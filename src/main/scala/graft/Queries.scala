package graft

import graft.Ckpt._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}
import graft.functions.{MatchKernel, TextFunctions => TF}
import graft.operators._

/**
 * The engine's operator inventory (SURVEY.md §2) exercised as named
 * queries over the driver testdata (TESTDATA.md), each with a DuckDB
 * oracle in [[Queries.oracleSql]] where the semantics are SQL-expressible.
 *
 * Float parity strategy with the oracle:
 *  - sums of doubles go through DECIMAL(18,s) casts (exact arithmetic both
 *    engines), cast back to double at the end;
 *  - averages are `exact_sum / count` — one double division of identical
 *    operands;
 *  - genuinely floating aggregations (corr, entropies, cosine) are rounded
 *    (6 or 4 dp) AFTER all ordering-sensitive arithmetic;
 *  - every query ends in an ORDER BY on a unique key, mirrored in the SQL.
 */
object Queries {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // The generator's ts dtype has drifted across testdata regenerations
    // (nano-precision INT64 through round 6, micro-precision TIMESTAMP
    // since round 7), so normalize at the scan rather than assuming one:
    // every downstream query sees ts as exact microseconds-since-epoch
    // (LongType), matching DuckDB's `epoch_us(ts)` bit for bit.
    // nanosAsLong only affects nano-precision columns (no-op on micro
    // TIMESTAMP), so it stays on for the legacy shape; the timezone pin
    // makes the NTZ→instant cast below deterministic.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val df = s.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      // nanos-as-long: `div` (integral division) is essential — `/` on
      // longs is DOUBLE division, and nano timestamps (~1.7e18) exceed
      // 2^53, so trunc(double(ts)/1000) lands one microsecond low on ~2%
      // of rows — invisible in range predicates, fatal for
      // md5-of-decimal-string parity (q38's resample membership).
      case Some(LongType) => df.withColumn("ts", expr("ts div 1000"))
      // parquet timestamp[us] with isAdjustedToUTC=false reads as
      // TIMESTAMP_NTZ; DuckDB's epoch_us treats the same wall-clock as
      // UTC, so cast through session-TZ-pinned TIMESTAMP to the instant.
      case Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)))
      case Some(TimestampType) => df.withColumn("ts", unix_micros(col("ts")))
      case _ => df
    }
  }

  /** Event time as exact microseconds-since-epoch (LongType) — the scan
    * normalization in [[t]] guarantees the dtype regardless of the
    * parquet's physical ts encoding; the oracle counterpart is DuckDB's
    * `epoch_us(ts)` — integer arithmetic on both sides, no float boundary
    * risk in interval predicates. */
  private def tsMicros: Column = col("ts")

  private def decSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  // event class used by the entropy queries: "anomalous" event types
  private def clsCol: Column =
    when(col("event_type").isin("purchase", "error"), 1).otherwise(0)

  // unique jittered sort value: doubles stay exact (event_id*1e-6 is well
  // above ulp at these magnitudes) and identical in DuckDB
  private def jitterVal: Column = col("value") + col("event_id") * lit(1e-6)

  /** q45/q57's shared contamination split: (held-out distinct 3-gram
    * shingles, training-corpus (doc_id, shingle) pairs), doc_id % 97 as
    * the held-out membership. One definition so the contamination
    * semantics (shingle n, split modulus) can't diverge between the
    * semi-join report and its anti-join complement. The fused one-pass
    * shingle kernel (KernelParitySpec locks it to the TF.shingleSet
    * column form) replaced interpreted HOF lambdas that were 8x the
    * query's wall-clock. */
  /** Fused distinct-trigram-shingle kernel (one JVM call per doc) shared
    * by q45/q67/q80/q82 — the interpreted HOF `TF.shingleSet` form
    * measured 7+ s per corpus-wide query at sf0.1 vs sub-second fused
    * (the q26/q27 lesson, re-measured on q80/q82 in r5). */
  private val shingleSet3Udf = udf((text: String) =>
    graft.functions.ShingleKernel.shingleStrings(text, 3))

  /** q106's deterministic PII augmentation over (doc_id, text) — the
    * digit-free fixture corpus carries no PII shapes, so planted spans
    * at known mod-densities prove detection on real spans; the identical
    * expression is spelled in the oracle SQL. */
  private[graft] def piiAugment: Column = concat(
    col("text"),
    when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com now"))).otherwise(""),
    when(col("doc_id") % 11 === 0, concat(lit(" server 10."),
      (col("doc_id") % 200).cast("string"), lit(".0."),
      (col("doc_id") % 50).cast("string"), lit(" up"))).otherwise(""),
    when(col("doc_id") % 13 === 0, concat(lit(" call 555-867-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today"))).otherwise(""),
    when(col("doc_id") % 17 === 0, concat(lit(" ssn 123-45-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" filed"))).otherwise(""))

  /** The PII detection/redaction projection over `(doc_id, atext)` —
    * stateless and codegen-only (q106). */
  private[graft] def piiReport(in: DataFrame): DataFrame = {
    val counts = TF.piiPatterns.map { case (name, rx, _) =>
      regexp_count(col("atext"), lit(rx)).cast("long").as(s"n_$name")
    }
    in.select(col("doc_id") +: counts :+ TF.redactPii(col("atext")).as("redacted_text"): _*)
      .withColumn("n_pii",
        col("n_email") + col("n_ipv4") + col("n_phone") + col("n_idnum"))
  }

  /** q175's default phrase list (the oracle pins it; BlocklistSpec and
    * the bench drive the same scan at 2000 patterns). */
  private[graft] val blocklistPatterns: Seq[String] = Seq(
    "table table", "batch batch", "fast key", "slow slow", "spark a a")

  /** The banned-phrase blocklist scan over `(doc_id, text)` — one
    * Aho-Corasick pass per row matching every pattern simultaneously,
    * the automaton built once on the driver and riding the kernel
    * closure (the r11 constant-table rule). Stateless and narrow
    * (q175). */
  private[graft] def blocklistHits(
      in: DataFrame, patterns: Seq[String] = blocklistPatterns): DataFrame = {
    val ac = graft.functions.AhoCorasick(patterns)
    val pArr = patterns.toArray
    val hitsUdf = udf((text: String) => {
      val c = ac.countMatches(text)
      c.indices.collect { case i if c(i) > 0 => (pArr(i), c(i)) }
    })
    in.select(col("doc_id"), explode(hitsUdf(col("text"))).as("h"))
      .select(col("doc_id"), col("h._1").as("pattern"), col("h._2").as("n_hits"))
  }

  /** q138/q187's shared power-iteration core: the EXACT centered
    * second-moment matrix C = n*M - s*s' over the floor(v*1024) bridge
    * (DECIMAL(38,0) = DuckDB HUGEINT), plus the driver-side iteration
    * machinery — decimal matvec via a broadcast 64-row join, BigInt
    * normalize / orthogonalize / Rayleigh replicating the oracle's
    * HUGEINT ops exactly (truncating sign-split division). Each round
    * is a 64-row aggregate collect (the BpeTrainer K-scalars
    * discipline); the one corpus-sized step is the partial-aggregated
    * self-join building C. */
  private final class PcaCore(s: SparkSession, val cMat: DataFrame) {
    private def xdf(xs: Array[BigInt]): DataFrame = {
      import s.implicits._
      xs.zipWithIndex.map { case (v, i) => (i, v.toLong) }.toSeq.toDF("q", "xs")
    }
    private def matvec(xs: Array[BigInt]): Map[Int, BigInt] =
      cMat.join(broadcast(xdf(xs)), "q")
        .groupBy("p").agg(sum(col("c") * col("xs")).as("ys"))
        .collect().map(r => (r.getInt(0), BigInt(r.getDecimal(1).toBigInteger)))
        .toMap
    private def normalized(ys: Map[Int, BigInt]): Array[BigInt] = {
      val m = (0 until 64).map(p => ys(p).abs).max
      Array.tabulate(64) { p =>
        val y = ys(p)
        (if (y.signum < 0) BigInt(-1) else BigInt(1)) * ((y.abs * 1000000) / m)
      }
    }
    private def orthogonalized(xs: Array[BigInt], u: Array[BigInt]): Array[BigInt] = {
      val dq = (0 until 64).map(i => u(i) * xs(i)).sum
      val uu = u.map(x => x * x).sum
      Array.tabulate(64) { i =>
        val tt = dq * u(i)
        xs(i) - (if (tt.signum < 0) BigInt(-1) else BigInt(1)) * (tt.abs / uu)
      }
    }
    def power(rounds: Int, ortho: Option[Array[BigInt]]): Array[BigInt] = {
      var xs: Array[BigInt] = Array.fill(64)(BigInt(1000000))
      for (_ <- 1 to rounds) {
        xs = normalized(matvec(xs))
        ortho.foreach(u => xs = orthogonalized(xs, u))
      }
      xs
    }
    def rayleigh(xs: Array[BigInt]): Double = {
      val xd = xdf(xs)
      val num = cMat.join(broadcast(xd), "q")
        .join(broadcast(xd.select(col("q").as("p"), col("xs").as("xp"))), "p")
        .agg(sum(col("xp") * col("c") * col("xs")).as("num"))
        .first().getDecimal(0)
      val den = xs.map(x => x * x).sum
      BigDecimal(num).toDouble / BigDecimal(den).toDouble
    }
  }

  private def pcaCore(s: SparkSession, d: String): PcaCore = {
    val ev = t(s, d, "embeddings")
      .select(col("vec_id"),
        posexplode(Similarity.quantized(col("embedding"))).as(Seq("pos", "vq")))
      .ckptLazy // consumers: sums, n, moment matrix
    val sPos = ev.groupBy("pos").agg(sum("vq").as("sv"))
    val nV = ev.agg(countDistinct("vec_id")).first().getLong(0)
    val cMat = ev.select(col("vec_id"), col("pos").as("p"), col("vq").as("va"))
      .join(ev.select(col("vec_id"), col("pos").as("q"), col("vq").as("vb")),
        "vec_id")
      .groupBy("p", "q").agg(sum(col("va") * col("vb")).as("m"))
      .join(broadcast(sPos.select(col("pos").as("p"), col("sv").as("sa"))), "p")
      .join(broadcast(sPos.select(col("pos").as("q"), col("sv").as("sb"))), "q")
      .select(col("p"), col("q"),
        (lit(nV).cast(DecimalType(38, 0)) * col("m").cast(DecimalType(38, 0)) -
          (col("sa") * col("sb")).cast(DecimalType(38, 0))).as("c"))
      .ckptEager // reused by every matvec + rayleigh
    new PcaCore(s, cMat)
  }

  /** Binary entropy (bits) of `p` positives among `n`, as a SQL
    * fragment interpolated VERBATIM into both the Spark expr and the
    * DuckDB oracle (the q139 shared-literal rule: one definition, two
    * engines, zero drift). Degenerate splits contribute exactly 0. */
  private[graft] def binEntropySql(p: String, n: String): String =
    s"(CASE WHEN $p <= 0 OR $p >= $n THEN 0.0 ELSE " +
      s"-(($p*1.0/$n)*log2($p*1.0/$n) + " +
      s"(($n-$p)*1.0/$n)*log2(($n-$p)*1.0/$n)) END)"

  private def contaminationSides(docs: DataFrame): (DataFrame, DataFrame) = {
    val shingleSetUdf = shingleSet3Udf
    val heldout = docs.where(col("doc_id") % 97 === 0)
      .select(explode(shingleSetUdf(col("text"))).as("shingle"))
      .distinct()
    val corpusShingles = docs.where(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(shingleSetUdf(col("text"))).as("shingle"))
    (heldout, corpusShingles)
  }

  /** q50's 12-hour-gap session spans — the interval set q69/q71 analyze:
    * one definition so the session semantics can't diverge between the
    * rollup, the overlap join and the concurrency sweep. */
  private def sessionSpans(e: DataFrame): DataFrame = {
    val gapUs = 43200L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    e.withColumn("new_s",
        when(lag("us", 1).over(w).isNull ||
          col("us") - lag("us", 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("us").as("s_start"), max("us").as("s_end"))
  }

  /** q83's temperature mixture weights (alpha = 0.5), factored so q88's
    * sampler composes the EXACT same weight definition (one source of
    * truth for the parity-sensitive sqrt/DECIMAL discipline). Returns
    * (lang, n_tokens, p_raw, alpha_weight), unordered. */
  private def mixtureWeights(s: SparkSession, d: String): DataFrame = {
    // multi-consumer aggregate (total + weights + normalizer all derive
    // from it): checkpoint so the BPE-tokenizing scan runs ONCE, not
    // once per consumer
    val cnt = t(s, d, "documents")
      .select(col("lang"), TF.bpeTokenCount(col("text")).as("toks"))
      .groupBy("lang").agg(sum("toks").as("n_tokens"))
      .ckptLazy
    val tot = cnt.agg(sum("n_tokens").as("nt"))
    val w = cnt.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("nt"), 6).as("p_raw"),
        round(sqrt(col("n_tokens").cast("double") / col("nt")), 6)
          .cast(DecimalType(18, 6)).as("w"))
      .ckptLazy
    val z = w.agg(sum("w").as("z"))
    w.crossJoin(broadcast(z))
      .select(col("lang"), col("n_tokens"), col("p_raw"),
        round(col("w").cast("double") / col("z").cast("double"), 6)
          .as("alpha_weight"))
  }

  /** q237/q239's shared DSIR doc-grain stage: q225's bucket log-ratio
    * weights extended to ALL docs with (lang, qm quality-micro,
    * n_tokens) — returns the CHECKPOINTED (doc_id, lang, qm, n_tokens,
    * wm) frame, one corpus token pass end to end (the (doc, bucket)
    * count table rides its own ckptLazy feeding both the 128-row ratio
    * LUT and the per-doc weight sums). */
  /** Fused per-doc 128-bucket counter + its dot/sum reads (r15
    * optimization: the explode(split)+md5-per-token+two-groupBy shape
    * fanned every doc to one row per token and shuffled twice; the
    * kernel keeps everything doc-grain — see TokenBucketKernel). */
  private val dsirBucketsUdf =
    udf((text: String) => graft.functions.TokenBucketKernel.bucketCounts(text, 128, 0L))
  private val vecSumUdf =
    udf((a: Array[Long]) => graft.functions.TokenBucketKernel.sum(a))
  private val vecDotUdf =
    udf((a: Array[Long], b: Array[Long]) => graft.functions.TokenBucketKernel.dot(a, b))

  /** One-row (rs: array<bigint>[128]) DSIR log-ratio vector from a
    * doc-grain frame carrying (cs: array<bigint>[128], is_target):
    * per-bucket (total, target) counts ride ONE fused BucketSums
    * aggregate — the partials crossing the exchange are one 256-long
    * array per partition, not (b) rows — and the log-ratio expression
    * is the exact (b)-grain form evaluated over the 128 cells. Absent
    * buckets (cc=0) keep their defined r but multiply c=0 in the dot. */
  private def dsirRatioVec(s: SparkSession, base: DataFrame): DataFrame =
    base.agg(plans.VecAggs.bucketSums(s, "cs", "is_target").as("sums"))
      .select(col("sums"),
        expr("aggregate(slice(sums, 1, 128), 0L, (a, x) -> a + x)").as("ctot"),
        expr("aggregate(slice(sums, 129, 128), 0L, (a, x) -> a + x)").as("ttot"))
      .select(expr(
        "transform(sequence(0, 127), b -> " +
          "cast(round(ln(cast((element_at(sums, b + 129) + 1) as double) * (ctot + 128) / " +
          "(cast((element_at(sums, b + 1) + 1) as double) * (ttot + 128))) * 1000000, 0) as bigint))")
        .as("rs"))

  private def dsirDocGrain(s: SparkSession, d: String): DataFrame = {
    // doc-grain from the FIRST projection (r15): the kernel emits each
    // doc's 128 per-bucket counts in one call — no token rows, no
    // token-grain exchange (the isNotNull filter mirrors the explode's
    // null-drop: split(NULL) exploded to no rows)
    val base = t(s, d, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        floor(TF.qualityScore(col("text")) * 1000000.0 + 0.5)
          .cast("long").as("qm"),
        col("text"))
      .select(col("doc_id"), col("lang"), col("qm"),
        (col("qm") >= 800000L).as("is_target"),
        dsirBucketsUdf(col("text")).as("cs"))
      .ckptLazy // consumers: fused bucket-sums agg, per-doc weight pass
    // wm = Σ_b c_b·r_b and n_tokens = Σ_b c_b as fused kernel reads
    // against the broadcast one-row ratio vector — same integer terms
    // as the former join + groupBy, zero exchanges
    base.crossJoin(broadcast(dsirRatioVec(s, base)))
      .select(col("doc_id"), col("lang"), col("qm"),
        vecSumUdf(col("cs")).as("n_tokens"),
        vecDotUdf(col("cs"), col("rs")).as("wm"))
      .ckptLazy // consumers: budget agg, selection input, flag join
  }

  /** q65's centroid-assignment confusion matrix, shared with q92's
    * agreement statistics (one source of truth for the assignment
    * semantics): integer-quantized embeddings, per-label centroid sums
    * broadcast, argmax by exact-integer dot/count ratio with the label
    * tie-break. Output (true_label, pred_label, n_vectors), unordered. */
  private def centroidConfusion(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val ev = e.select(col("vec_id"), col("label").as("true_label"),
      posexplode(Similarity.quantized(col("embedding"))).as(Seq("pos", "vq")))
    val cs = ev.groupBy(col("true_label").as("c_label"), col("pos"))
      .agg(sum("vq").as("sq"), count(lit(1)).as("n_c"))
    val w = Window.partitionBy("vec_id").orderBy(col("score").desc, col("c_label"))
    ev.join(broadcast(cs), Seq("pos"))
      .groupBy("vec_id", "true_label", "c_label", "n_c")
      .agg(sum(col("vq") * col("sq")).as("dot"))
      .withColumn("score", col("dot").cast("double") / col("n_c").cast("double"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") === 1)
      .groupBy(col("true_label"), col("c_label").as("pred_label"))
      .agg(count(lit(1)).as("n_vectors"))
  }

  /** q126/q128's shared Neyman allocation (ONE definition so the
    * reported table and the executed sample cannot drift): per source,
    * weight = sqrt(V_h) with V_h = N_h*Σy² − (Σy)² exact through
    * DECIMAL(38,0), Hamilton largest-remainder integerization of a
    * 1000-doc budget — Σ n_alloc == budget exactly. */
  private def neymanAlloc(s: SparkSession, d: String): DataFrame = {
    val budget = 1000L
    val st = t(s, d, "documents")
      .select(col("source"), TF.bpeTokenCount(col("text")).cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n").cast(DecimalType(38, 0))).as("sy"),
        sum((col("n") * col("n")).cast(DecimalType(38, 0))).as("sy2"))
      .withColumn("v",
        col("n_docs").cast(DecimalType(38, 0)) * col("sy2") - col("sy") * col("sy"))
      .withColumn("w", floor(sqrt(col("v").cast("double")) * lit(1000000.0)).cast("long"))
    val tw = st.agg(sum("w").as("tw"))
    val q0 = st.crossJoin(broadcast(tw))
      .withColumn("base", expr(s"($budget * w) div tw"))
      .withColumn("rem", expr(s"($budget * w) % tw"))
    val extra = q0.agg((lit(budget) - sum("base")).as("extra"))
    q0.crossJoin(broadcast(extra))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .select(col("source"), col("n_docs"),
        (col("w").cast("double") / lit(1000000.0)).as("weight"),
        (col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
          .as("n_alloc"))
  }

  /** q224's HLL numerator alpha_64 · m² · 2^55 as ONE pre-folded double
    * literal interpolated into BOTH engines' SQL (scientific notation →
    * parsed as DOUBLE by both): spelling the arithmetic out as
    * `0.7213 / (1.0 + ...)` is NOT cross-engine — DuckDB types bare
    * decimal literals as DECIMAL and its decimal-division scale rules
    * differ from Spark's, which showed up as a 1-ulp (1e-6 after
    * round-6) estimate drift at sf0.001. */
  private[graft] lazy val hllNumerator: String =
    (0.7213 / (1.0 + 1.079 / 64.0) * 4096.0 * 3.6028797018963968e16).toString

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // winnowing fingerprints (Schleimer et al. 2003 — the MOSS local
    // document fingerprint, the coverage-GUARANTEED selection q25's
    // single rolling hash lacks): per document, md5-60 k-shingle hashes
    // at every position, minimum per sliding window of w consecutive
    // hashes, distinct selected minima = the fingerprint set. The
    // guarantee: any token run of length >= k + w - 1 shared by two
    // documents yields at least one shared fingerprint, at expected
    // density 2/(w+1) — tunable recall/cost unlike q25's single-min.
    // One corpus pass, no shuffle before the output ORDER BY: the
    // sliding min runs in a fused O(n) monotone-deque kernel
    // (ShingleKernel.winnowSet — the HOF column form is O(n*w)
    // interpreted per element, the ShingleKernel lesson), the oracle
    // recomputes it as list_min over slices. Ties select by VALUE, so
    // the min-of-window SET is convention-free (rightmost-vs-leftmost
    // is unobservable in set semantics) and engine parity is exact.
    // Density is micro-scaled integer division (no float rounding
    // boundary).
    "q114_winnow_fingerprint" -> ((s, d) => {
      val k = 3; val w = 4
      val fpUdf = udf((text: String) =>
        graft.functions.ShingleKernel.winnowSet(text, k, w))
      t(s, d, "documents")
        .select(col("doc_id"), TF.tokenCount(col("text")).cast("long").as("n_tokens"),
          fpUdf(col("text")).as("fp"))
        .where(col("n_tokens") >= k + w - 1)
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - (k + w - 2)).as("n_windows"),
          size(col("fp")).cast("long").as("n_fingerprints"))
        .withColumn("density",
          (expr("cast(n_fingerprints * 1000000 as bigint) div n_windows")
            .cast("double") / lit(1000000.0)))
        .orderBy("doc_id")
    }),

    // content-defined chunk dedup (the LBFS/FastCDC storage-dedup
    // primitive at token granularity — the lake-side answer to "how
    // much of each source is byte-shifted re-crawl?"): a chunk boundary
    // closes where the rolling w-token window hash is divisible by the
    // target mean length, so an insert/delete edit perturbs only its
    // neighboring boundaries — unlike fixed-width chunking, where one
    // leading token shifts every downstream chunk identity (the reason
    // CDC exists). Per source: chunk instances, distinct chunks, dup
    // instances, dedup ratio, mean chunk length. Scale shape: chunking
    // is a fused per-row kernel (one pass, no shuffle), the only
    // shuffles are the two partial-aggregated groupBys over (source,
    // chunk-hash) then source — the Zipfian chunk key never sees a
    // window or a join. The doc scan feeds chunking AND token totals
    // once via localCheckpoint. Mean/ratio are micro-scaled integer
    // divisions; chunk identity is md5-60 (collisions ~n^2/2^61,
    // identical in the shared-hash oracle).
    "q115_cdc_chunk_dedup" -> ((s, d) => {
      // oracle pins mod = 16: a ~512-token web document split into
      // ~32 chunks (the rolling-hash modulus IS the expected chunk length)
      val w = 3; val mod = 16
      val chUdf = udf((text: String) =>
        graft.functions.ShingleKernel.cdcChunkHashes(text, w, mod))
      val docs = t(s, d, "documents")
        .select(col("source"), TF.tokenCount(col("text")).cast("long").as("n"),
          chUdf(col("text")).as("chs"))
        .ckptLazy // two consumers: chunk explode, token totals
      val sc = docs.select(col("source"), explode(col("chs")).as("h"))
        .groupBy("source", "h").agg(count(lit(1)).as("c"))
      val agg = sc.groupBy("source")
        .agg(sum("c").as("n_chunks"), count(lit(1)).as("n_distinct_chunks"))
      val tok = docs.groupBy("source").agg(sum("n").as("n_tokens"))
      agg.join(tok, "source")
        .select(col("source"), col("n_chunks"), col("n_distinct_chunks"),
          (col("n_chunks") - col("n_distinct_chunks")).as("n_dup_instances"),
          (expr("cast(n_distinct_chunks * 1000000 as bigint) div n_chunks")
            .cast("double") / lit(1000000.0)).as("dedup_ratio"),
          (expr("cast(n_tokens * 1000000 as bigint) div n_chunks")
            .cast("double") / lit(1000000.0)).as("mean_chunk_len"))
        .orderBy("source")
    }),

    // per-source shingle novelty — the memorization-risk/provenance
    // report (what fraction of a source's 5-gram mass is NEW relative
    // to everything with a smaller doc_id — i.e. how much does this
    // source add vs re-state the corpus): first-occurrence attribution
    // by min(doc_id) per distinct shingle (q82/q105's min-combine
    // pattern — two partial-aggregated groupBys over the shingle key,
    // never a window), then an h-keyed equi-join back (AQE-splittable)
    // and per-source rollup. Shingle identity is md5-60
    // (ShingleKernel.md5ShingleSet60): at 32 bits the birthday rate
    // would MIS-ATTRIBUTE first occurrences ~100x per million distinct
    // shingles — novelty reads the collision rate, so the wide hash is
    // semantic here, not cosmetic. Novelty is micro-scaled integer
    // division.
    "q116_shingle_novelty" -> ((s, d) => {
      val k = 5
      val setUdf = udf((text: String) =>
        graft.functions.ShingleKernel.md5ShingleSet60(text, k))
      val sh = t(s, d, "documents")
        .select(col("doc_id"), col("source"), setUdf(col("text")).as("hs"))
        .where(size(col("hs")) > 0)
        .select(col("doc_id"), col("source"), explode(col("hs")).as("h"))
        .ckptLazy // two consumers: first-occurrence, join back
      val fd = sh.groupBy("h").agg(min("doc_id").as("fd"))
      sh.join(fd, "h")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("ns"),
          sum(when(col("doc_id") === col("fd"), 1L).otherwise(0L)).as("nv"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("ns").as("n_shingles"),
          sum("nv").as("n_novel"))
        .withColumn("novelty",
          expr("cast(n_novel * 1000000 as bigint) div n_shingles")
            .cast("double") / lit(1000000.0))
        .orderBy("source")
    }),

    // trained-BPE fertility per language (the tokenizer-fairness report
    // read before fixing a vocabulary — Rust/ACL convention "fertility"
    // = subword units per word; a tokenizer trained on a skewed mix
    // quietly taxes low-resource languages with longer sequences):
    // q93's full train+apply pipeline (corpus-wide 6-merge vocabulary,
    // K collected decision scalars, sentinel-replace apply over the
    // DISTINCT-word table) rolled up per language instead of per doc.
    // ONE corpus pass builds (lang, word, tf); the vocabulary re-derives
    // from it (no second scan); unseen words (single chars, outside the
    // trainer's vocabulary filter) fall back to character count exactly
    // as q93. Fertility is micro-scaled integer division; everything
    // upstream is exact integers.
    "q117_bpe_fertility" -> ((s, d) => {
      val lw = t(s, d, "documents")
        .select(col("lang"), explode(TF.tokens(col("text"))).as("word"))
        .groupBy("lang", "word").agg(count(lit(1)).as("tf"))
        .ckptLazy // two consumers: vocabulary, apply join
      val vocab = BpeTrainer.vocabularyFromCounts(lw, "word", "tf")
      val merges = BpeTrainer.train(vocab, merges = 6, minCount = 0L)
        .orderBy("merge_rank").collect().map(_.getString(1)).toSeq
      val encWords = BpeTrainer.applyMerges(vocab.select("word"), "word", merges)
        .select(col("word"), BpeTrainer.symbolCount(col("enc")).as("n_sym"))
      lw.join(encWords, Seq("word"), "left")
        .groupBy("lang")
        .agg(sum("tf").as("n_words"),
          sum(col("tf") *
            coalesce(col("n_sym"), length(col("word")).cast("long"))).as("n_bpe_tokens"))
        .withColumn("fertility",
          expr("cast(n_bpe_tokens * 1000000 as bigint) div n_words")
            .cast("double") / lit(1000000.0))
        .orderBy("lang")
    }),

    // greedy max-coverage data selection (Nemhauser et al. 1978's
    // (1-1/e)-approximate submodular greedy — the facility-location
    // shape of modern data-selection work: pick the K documents that
    // together cover the most distinct 3-gram mass): per round, gain =
    // per-doc count of still-uncovered shingles (one partial-aggregated
    // groupBy over the anti-joined shingle table), winner = argmax
    // (count desc, doc_id) — ONE collected row per round, the
    // BpeTrainer/GraphRank aggregate-scalar discipline; the covered set
    // grows by at most one doc's shingles per round and rides an eager
    // localCheckpoint, so the anti-join's broadcast side stays K-doc
    // bounded. The oracle unrolls the same K rounds as chained
    // MATERIALIZED CTEs (the q78/q87 pattern). Gains are exact integers;
    // no float anywhere.
    "q118_greedy_coverage" -> ((s, d) => {
      val rounds = 5
      val setUdf = udf((text: String) =>
        graft.functions.ShingleKernel.md5ShingleSet60(text, 3))
      val sh = t(s, d, "documents")
        .select(col("doc_id"), setUdf(col("text")).as("hs"))
        .where(size(col("hs")) > 0)
        .select(col("doc_id"), explode(col("hs")).as("h"))
        .ckptLazy // scanned once per greedy round
      var covered: DataFrame = s.range(0).select(col("id").as("h"))
      var selected = List.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
      var total = 0L
      var r = 1
      while (r <= rounds) {
        val win = sh
          .where(if (selected.isEmpty) lit(true)
            else !col("doc_id").isin(selected: _*))
          .join(covered, Seq("h"), "left_anti")
          .groupBy("doc_id").agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col("doc_id")).limit(1).collect()
        if (win.isEmpty) r = rounds + 1
        else {
          val docId = win(0).getLong(0); val gain = win(0).getLong(1)
          selected ::= docId
          total += gain
          // lazy boundary (r15): next round's win job materializes it;
          // the eager form paid a separate scheduled job per round
          covered = covered
            .union(sh.where(col("doc_id") === docId).select("h"))
            .distinct().ckptLazy
          out += ((r, docId, gain, total))
          r += 1
        }
      }
      import sh.sparkSession.implicits._
      out.toSeq.toDF("round", "doc_id", "gain", "covered_total")
        .orderBy("round")
    }),

    // per-source EXACT length deciles (the corpus-profile table read
    // before choosing chunk/packing boundaries — percentile_disc
    // semantics, NOT an approximate sketch and NOT interpolated
    // quantiles, so there is no float boundary at all): decile p is the
    // smallest length whose cumulative count reaches p/10 of the
    // source, decided by the integer cross-multiplication 10*cum >=
    // p*total. Scale shape: the ONLY corpus-sized step is the partial-
    // aggregated groupBy (source, length); the cumulative window then
    // runs over DISTINCT length values per source — bounded by the
    // length-value range (hundreds), not the corpus — the established
    // aggregate-sized window case (q112's 30-row precedent), not a
    // few-key corpus window.
    "q119_length_deciles" -> ((s, d) => {
      val cnt = t(s, d, "documents")
        .select(col("source"), TF.bpeTokenCount(col("text")).cast("long").as("n"))
        .groupBy("source", "n").agg(count(lit(1)).as("c"))
      val cum = cnt
        .withColumn("cum", sum("c").over(
          Window.partitionBy("source").orderBy("n")))
        .withColumn("tot", sum("c").over(Window.partitionBy("source")))
      cum.withColumn("p", explode(expr("sequence(1, 9)")))
        .where(col("cum") * 10 >= col("p") * col("tot"))
        .groupBy("source", "p").agg(min("n").as("value"))
        .select(col("source"), col("p").cast("int").as("decile"), col("value"))
        .orderBy("source", "decile")
    }),

    // token burstiness (Church & Gale 1995 — "a word that has occurred
    // once is far more likely to occur again soon": the per-token
    // clustering statistic that separates topical content words from
    // function words with the same collection frequency, read when
    // choosing dedup shingle lengths and stopword cutoffs): for the
    // top-50 tokens by collection frequency — df (docs containing), cf
    // (total instances), max per-doc tf, and burstiness = cf/df (mean
    // instances per CONTAINING doc). Scale shape: (doc, token) partial
    // aggregate, then a token-keyed partial-aggregated groupBy (the
    // Zipfian key never sees a window), top-50 compiles to
    // TakeOrderedAndProject. Burstiness is micro-scaled integer
    // division; everything else exact integers.
    "q120_token_burstiness" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .groupBy("token")
        .agg(count(lit(1)).as("df"), sum("tf").as("cf"), max("tf").as("max_tf"))
        .withColumn("burstiness",
          expr("cast(cf * 1000000 as bigint) div df").cast("double") / lit(1000000.0))
        .orderBy(col("cf").desc, col("token")).limit(50)),

    // Good-Turing count-of-counts (Good 1953; Gale & Sampson's SGT
    // inputs): the frequency-of-frequencies table N_r for 3-gram counts
    // r = 1..10 with the Turing-adjusted count r* = (r+1) N_{r+1}/N_r
    // — the LM-smoothing primitive and the corpus-health diagnostic
    // (N_1/N is the unseen-mass estimate; a crawl whose N_1 fraction
    // jumps has a tokenization or boilerplate problem). Everything
    // after the vocabulary groupBy is aggregate-sized (the
    // count-of-counts table, a shifted self-join on r+1); r* is
    // micro-scaled integer division of exact counts. Rows where N_r
    // exists only (r <= 10); missing N_{r+1} yields r* = 0 — both
    // engines identically. Unit is the token 3-GRAM, not the unigram:
    // the fixture's templated 31-word vocabulary has min count ~26 (the
    // unigram table is empty at r <= 10 — probed), while trigrams have
    // 16k+ distinct values with the full 1..9 spectrum; on a natural
    // corpus the same query runs on any n.
    "q121_good_turing" -> ((s, d) => {
      val shUdf = udf((text: String) =>
        graft.functions.ShingleKernel.shingleInstances(text, 3))
      val nr = t(s, d, "documents")
        .select(explode(shUdf(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("r"))
        .groupBy("r").agg(count(lit(1)).as("n_r"))
        .ckptLazy // two consumers: rows, shifted self-join
      nr.where(col("r") <= 10)
        .join(nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1")),
          Seq("r"), "left")
        .select(col("r"), col("n_r"), coalesce(col("n_r1"), lit(0L)).as("n_r1"))
        .withColumn("r_star",
          expr("cast((r + 1) * n_r1 * 1000000 as bigint) div n_r")
            .cast("double") / lit(1000000.0))
        .orderBy("r")
    }),

    // per-source length-distribution drift as a two-sample KS statistic
    // (source vs rest-of-corpus over BPE token counts — the
    // distribution-shift alarm that fires when one source's re-crawl
    // changes shape even though its mean stays put; complements q84's
    // token-mass KL and q119's deciles): KS = max |cdf_a - cdf_rest|
    // over the shared length spine, with BOTH cdfs quantized to 1e-6
    // by micro-scaled integer division BEFORE the difference — the
    // statistic is defined on quantized cdfs, so no cross-engine float
    // boundary exists anywhere, and no cum*tot product ever exceeds
    // rows*1e6 (long-safe to ~9e12 rows per source, vs the cross-
    // multiplied form whose cum*tot overflows at ~3e9). Scale shape:
    // ONE corpus-sized partial aggregate (source, length); the spine
    // (distinct lengths, bounded by the value range) and the
    // source x spine grid are aggregate-sized — the windows run over
    // the grid, never the corpus. Reports the KS distance and the
    // length where it is attained (min such length — deterministic).
    "q122_length_ks_drift" -> ((s, d) => {
      val cnt = t(s, d, "documents")
        .select(col("source"), TF.bpeTokenCount(col("text")).cast("long").as("n"))
        .groupBy("source", "n").agg(count(lit(1)).as("c"))
        .ckptLazy // consumers: spine, grid
      val spine = cnt.groupBy("n").agg(sum("c").as("cg"))
        .withColumn("gcum", sum("cg").over(Window.orderBy("n")))
        .crossJoin(broadcast(cnt.agg(sum("c").as("gtot"))))
      val grid = cnt.select("source").distinct()
        .crossJoin(spine.select("n", "gcum", "gtot"))
        .join(cnt, Seq("source", "n"), "left")
        .withColumn("cum",
          coalesce(sum("c").over(
            Window.partitionBy("source").orderBy("n")), lit(0L)))
      val tots = cnt.groupBy("source").agg(sum("c").as("tot"))
      val diffs = grid.join(tots, "source")
        .select(col("source"), col("n"),
          abs(expr("cast(cum * 1000000 as bigint) div tot") -
            expr("cast((gcum - cum) * 1000000 as bigint) div (gtot - tot)"))
            .as("diff"))
        .ckptLazy // consumers: max, argmax join
      val mx = diffs.groupBy("source").agg(max("diff").as("ksq"))
      diffs.join(mx, "source").where(col("diff") === col("ksq"))
        .groupBy("source").agg(min("n").as("n_at_max"), max("ksq").as("ksq"))
        .select(col("source"), col("n_at_max"),
          (col("ksq").cast("double") / lit(1000000.0)).as("ks"))
        .orderBy("source")
    }),

    // int8 scalar-quantization error report (the embedding-compression
    // decision table — a 100 TB vector store ships int8, and this is
    // the per-dimension evidence that it can): per-dimension min/max
    // range, 255-level affine code, reconstruction error. EVERYTHING is
    // exact integer arithmetic: values enter through the established
    // floor(v*1024) quantization bridge (centroidConfusion's), the
    // code/decode are truncating integer divisions over nonnegative
    // operands (identical div semantics both engines), so max_abs_err
    // is an exact integer and mse the micro-scaled division of exact
    // sums — NO float boundary anywhere, in a query about float data.
    // Scale shape: one posexplode pass, a 64-row min/max partial
    // aggregate broadcast back, one more partial aggregate; nothing
    // corpus-sized crosses a window.
    "q123_int8_quantization" -> ((s, d) => {
      val q = t(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          floor(col("v").cast("double") * 1024.0).cast("long").as("vq"))
        .ckptLazy // consumers: range table, error pass
      val mm = q.groupBy("pos").agg(min("vq").as("qmin"), max("vq").as("qmax"))
      q.join(broadcast(mm), "pos")
        .withColumn("c",
          expr("((vq - qmin) * 255) div greatest(qmax - qmin, 1L)"))
        .withColumn("err",
          expr("vq - (qmin + (c * (qmax - qmin)) div 255)"))
        .groupBy("pos")
        .agg(max("qmin").as("qmin"), max("qmax").as("qmax"),
          count(lit(1)).as("n_vectors"),
          max(abs(col("err"))).as("max_abs_err"),
          sum(col("err") * col("err")).as("sse"))
        .withColumn("mse",
          expr("cast(sse * 1000000 as bigint) div n_vectors")
            .cast("double") / lit(1000000.0))
        .drop("sse")
        .orderBy("pos")
    }),

    // Johnson-Lindenstrauss random-projection distortion audit (the
    // sign-matrix JL of Achlioptas 2003 — the dimensionality-reduction
    // step a billion-vector store runs before indexing, and the audit
    // that says whether k kept enough geometry): project the 64-dim
    // vectors to k=16 by a +/-1 sign matrix derived from md5(pos, j) —
    // deterministic, engine-reproducible, no RNG — and report, for all
    // pairs among the first 16 vectors, the projected-over-original
    // squared-distance ratio (expectation 1 under E||Rx||^2 = k||x||^2).
    // Both distances are EXACT INTEGERS (the floor(v*1024) bridge;
    // +/-1 sums stay integral), so the only float op is the final
    // ratio of identical ints, rounded 6dp. Scale shape: the sign
    // matrix is a 64 x 16 broadcast; projection is one partial-
    // aggregated groupBy (vec, j); the pair stage runs on the k-dim
    // PROJECTED table — the audit's cost is exactly the saving the
    // projection buys.
    "q124_jl_distortion" -> ((s, d) => {
      val q = t(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          floor(col("v").cast("double") * 1024.0).cast("long").as("vq"))
        .ckptLazy // consumers: projection, exact pairs
      val signs = s.range(64).select(col("id").as("pos"))
        .crossJoin(s.range(16).select(col("id").as("j")))
        .withColumn("sgn", when(expr(
          "cast(conv(substr(md5(cast(concat(pos, '_', j) as binary)), 1, 15), 16, 10) as bigint) % 2"
        ) === 0, 1L).otherwise(-1L))
      val proj = q.join(broadcast(signs), "pos")
        .groupBy("vec_id", "j").agg(sum(col("sgn") * col("vq")).as("y"))
        .where(col("vec_id") < 16)
      // 16 anchors × 16 projections — every relation below is ≤ ~1k rows;
      // broadcast the self-join/attach sides (r14 SMJ sweep)
      val dProj = proj.select(col("vec_id").as("vec_a"), col("j"), col("y").as("ya"))
        .join(broadcast(
          proj.select(col("vec_id").as("vec_b"), col("j"), col("y").as("yb"))), "j")
        .where(col("vec_a") < col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(sum(expr("(ya - yb) * (ya - yb)")).as("d2_proj"))
      val ua = q.where(col("vec_id") < 16)
      val dOrig = ua.select(col("vec_id").as("vec_a"), col("pos"), col("vq").as("qa"))
        .join(broadcast(
          ua.select(col("vec_id").as("vec_b"), col("pos"), col("vq").as("qb"))), "pos")
        .where(col("vec_a") < col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(sum(expr("(qa - qb) * (qa - qb)")).as("d2_orig"))
      dOrig.join(broadcast(dProj), Seq("vec_a", "vec_b"))
        .select(col("vec_a"), col("vec_b"), col("d2_orig"), col("d2_proj"),
          round(col("d2_proj").cast("double") /
            (col("d2_orig").cast("double") * 16.0), 6).as("distortion"))
        .orderBy("vec_a", "vec_b")
    }),

    // KMV (k-minimum-values) cardinality sketch, ORACLED — the
    // distinct-count estimator whose arithmetic an independent engine
    // can reproduce bit-for-bit (unlike HLL's engine-internal register
    // layout, which is why the HLL rows are spec-only): per source, the
    // k smallest md5-60 shingle hashes give est = (k-1) * 2^60 / h_k
    // (Bar-Yossef et al. 2002), reported NEXT TO the exact distinct
    // count so the sketch error is measurable data. Cross-engine
    // parity: 63 * 2^60 is EXACTLY representable (6 significant bits),
    // h_k is an identical integer, so the one division is identical;
    // floor of the same double. Scale shape: the ONLY corpus-sized
    // steps are the distinct over (source, h) and the h < 2^60/8
    // prefilter (a codegen'd scan predicate); the k-th-smallest window
    // runs over survivors — sized by the cutoff (expected D/8 per
    // source, the kmvCutoffFor sizing-rule parameter in production),
    // never the corpus. A source with < k survivors falls back to its
    // exact count (n_survivors makes the fallback visible, not
    // silent).
    "q125_kmv_cardinality" -> ((s, d) => {
      val k = 64
      val cutoff = 1L << 57 // 2^60 / 8
      val setUdf = udf((text: String) =>
        graft.functions.ShingleKernel.md5ShingleSet60(text, 3))
      val sh = t(s, d, "documents")
        .select(col("source"), explode(setUdf(col("text"))).as("h"))
        .distinct()
        .ckptLazy // consumers: exact count, survivor ranks
      val exact = sh.groupBy("source").agg(count(lit(1)).as("d_exact"))
      val hk = sh.where(col("h") < cutoff)
        .withColumn("rn",
          row_number().over(Window.partitionBy("source").orderBy("h")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_survivors"),
          max(when(col("rn") === k, col("h"))).as("h_k"))
      exact.join(hk, Seq("source"), "left")
        .select(col("source"), col("d_exact"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"),
          when(col("h_k").isNotNull,
            floor(lit(63.0) * lit(1152921504606846976.0) /
              col("h_k").cast("double")).cast("long"))
            .otherwise(col("d_exact")).as("d_est"))
        .withColumn("rel_err",
          round((col("d_est") - col("d_exact")).cast("double") / col("d_exact"), 6))
        .orderBy("source")
    }),

    // Neyman allocation of a fixed sample budget across sources
    // (Neyman 1934 — the survey-sampling optimum n_h ∝ N_h S_h that
    // eval-set construction should use instead of proportional
    // sampling; high-variance strata earn more draws): the weight
    // N_h S_h collapses to sqrt(V_h) with V_h = N_h Σy² − (Σy)² — an
    // EXACT integer (sums ride DECIMAL(38,0) per the q95 discipline,
    // exact to ~1e19-token strata), so the only float op is one sqrt
    // of identical integers, floored to a micro-scaled weight.
    // Integerization is the largest-remainder (Hamilton) method — all
    // integer div/mod over nonnegative operands, remainder rank
    // tie-broken by source — so Σ n_alloc == budget EXACTLY (the spec
    // invariant), with every post-aggregate step on the |sources|-row
    // table. y is the BPE token count.
    "q126_neyman_allocation" -> ((s, d) =>
      neymanAlloc(s, d)
        .select("source", "n_docs", "weight", "n_alloc")
        .orderBy("source")),

    // Wilson-score lower-bound ranking (Wilson 1927; the "how not to
    // sort by average rating" fix — a 3/3 success rate must NOT outrank
    // a 95/100): per event type, successes = events with value >= 100,
    // ranked by the z=2 lower confidence bound. z=2 is deliberate
    // (the standard ~95.45% rule-of-thumb): z² = 4 and z²/2 = 2 are
    // exact dyadic constants, so both engines evaluate the IDENTICAL
    // expression tree over identical integers — the only parity
    // requirement is textual-formula identity, locked by writing the
    // same associativity in both. Rounded 6dp BEFORE the ordering (the
    // round-before-order discipline). One partial-aggregated groupBy;
    // everything after is |types|-row.
    "q127_wilson_ranking" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") >= 100.0, 1L).otherwise(0L)).as("s"))
        .withColumn("p", col("s").cast("double") / col("n"))
        .withColumn("wilson_lb", round(
          (col("p") + lit(2.0) / col("n") -
            lit(2.0) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n") +
              lit(1.0) / (col("n") * col("n")))) /
            (lit(1.0) + lit(4.0) / col("n")), 6))
        .select(col("event_type"), col("n"), col("s"),
          round(col("p"), 6).as("p_hat"), col("wilson_lb"))
        .orderBy(col("wilson_lb").desc, col("event_type"))),

    // the Neyman allocation EXECUTED (q126 reports the optimal n_h;
    // this draws them — q88's deterministic md5-order prefix machinery
    // with doc-count budgets): per source, the first n_alloc documents
    // in md5(doc_id) order (reproducible in any engine, no RNG) via
    // CorpusSharding's two-level sharded prefix — per-shard running
    // sums + an aggregate-sized offset join, shard-major order IS the
    // md5 order (ShardingSpec), so no few-key corpus window exists.
    // Sampled token mass rides one doc_id equi-join back to the scan.
    // Invariant (spec'd): n_sampled == least(n_alloc, n_docs), and the
    // allocation is the SAME neymanAlloc definition q126 checks — the
    // report and the sample cannot drift.
    "q128_neyman_sample" -> ((s, d) => {
      val alloc = neymanAlloc(s, d)
        .select(col("source").as("lang"), col("n_alloc").as("budget"))
      val docs = t(s, d, "documents")
      CorpusSharding.weightedBudgetPrefix(
          docs.drop("lang").withColumnRenamed("source", "lang"), lit(1L), 1, alloc)
        .join(docs.select(col("doc_id"),
          TF.bpeTokenCount(col("text")).cast("long").as("nt")), "doc_id")
        .groupBy("lang")
        .agg(max("budget").as("n_alloc"), count(lit(1)).as("n_sampled"),
          sum("nt").as("n_tokens_sampled"))
        .select(col("lang").as("source"), col("n_alloc"), col("n_sampled"),
          col("n_tokens_sampled"))
        .orderBy("source")
    }),

    // functional-dependency profiling (the Metanome/data-quality
    // primitive run before trusting a join key or a partition column:
    // does det -> dep actually hold?): for a fixed determinant ->
    // dependent catalog across three tables, the violating-key count
    // and worst fan-out. Scale shape: each pair is TWO partial-
    // aggregated groupBys ((det, dep) distinct then per-det variant
    // count) — the exact-distinct two-phase form, no window, any key
    // cardinality; the five per-pair scalars union into one
    // catalog-sized result.
    "q129_fd_profile" -> ((s, d) => {
      def fd(tbl: DataFrame, tname: String, det: String, dep: String) =
        tbl.select(col(det).cast("string").as("k"), col(dep).cast("string").as("v"))
          .groupBy("k", "v").agg(count(lit(1)).as("c"))
          .groupBy("k").agg(count(lit(1)).as("nv"))
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_violating"),
            max("nv").as("max_variants"))
          .select(lit(tname).as("tbl"), lit(det).as("det"), lit(dep).as("dep"),
            col("n_keys"), col("n_violating"), col("max_variants"),
            when(col("n_violating") === 0, 1).otherwise(0).as("fd_holds"))
      val docs = t(s, d, "documents")
      val ev = t(s, d, "events")
      fd(docs, "documents", "lang", "source")
        .unionByName(fd(docs, "documents", "source", "lang"))
        .unionByName(fd(ev, "events", "event_id", "event_type"))
        .unionByName(fd(ev, "events", "user_id", "event_type"))
        .unionByName(fd(t(s, d, "orders"), "orders", "o_orderkey", "o_orderstatus"))
        .orderBy("tbl", "det", "dep")
    }),

    // per-column data-quality profile of the documents table — the
    // ingest-time contract check every pipeline runs before reading a
    // new drop (the folder_2 dynamic-schema spirit: the column list
    // comes from the SCHEMA at runtime, not a hardcoded set): rows,
    // nulls, exact distincts, min/max stringified length per column.
    // Exact distinct is the two-phase partial-aggregated groupBy per
    // column; the five per-column scalar frames union aggregate-sized.
    // Column values profile through CAST(x AS STRING) — the documents
    // schema is int/string only, where the cast is format-identical
    // across engines (floats would not be — excluded by contract).
    "q130_column_profile" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.schema.fields.map { f =>
        val c = col(f.name).cast("string")
        docs.select(c.as("v"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col("v")).as("n_distinct"),
            min(length(col("v"))).cast("long").as("min_len"),
            max(length(col("v"))).cast("long").as("max_len"))
          .select(lit(f.name).as("column_name"), col("n_rows"), col("n_null"),
            col("n_distinct"), col("min_len"), col("max_len"))
      }.reduce(_.unionByName(_)).orderBy("column_name")
    }),

    // class-based TF-IDF keyword extraction (Grootendorst's c-TF-IDF,
    // the BERTopic labeling step — "which tokens CHARACTERIZE this
    // source", where q52's document TF-IDF answers "which tokens
    // characterize this document"): W(t,c) = tf(t,c) * ln((f(t)+A)/f(t))
    // with A = mean tokens per class (integerized by div — documented)
    // and f(t) the global count. Parity: ONE textual form of the log
    // ratio both engines (ln((f+A)*1.0/f), rounded 6dp into DECIMAL
    // before the tf multiply — the multiply is then exact); ranking on
    // the (source, token) AGGREGATE (vocabulary x sources rows — the
    // allowed aggregate-sized window), top-5 per source.
    "q131_ctfidf_keywords" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("tf"))
        .ckptLazy // consumers: global counts, totals, rank
      val ft = tf.groupBy("token").agg(sum("tf").as("f"))
      val a = tf.agg(expr("sum(tf) div count(distinct source)").as("a"))
      val scored = tf.join(ft, "token").crossJoin(broadcast(a))
        .withColumn("w",
          round(log((col("f") + col("a")) * lit(1.0) / col("f")), 6)
            .cast(DecimalType(18, 6)) * col("tf"))
      scored
        .withColumn("rank", row_number().over(
          Window.partitionBy("source").orderBy(col("w").desc, col("token"))))
        .where(col("rank") <= 5)
        .select(col("source"), col("rank"), col("token"), col("tf"),
          round(col("w"), 6).cast("double").as("score"))
        .orderBy("source", "rank")
    }),

    // centroid silhouette (the linear-time clustering-quality audit —
    // full silhouette is quadratic per cluster, the centroid form is
    // the one a billion-vector store can actually run): per vector,
    // cosine to its OWN label centroid (a) vs the best FOREIGN centroid
    // (b); per label, the mean margin a-b and the misassignment rate
    // (b > a). Exactness: dots and squared norms are exact integers
    // through the floor(v*1024) bridge; each cosine is one double
    // division of identical operands rounded 6dp INTO DECIMAL(18,6),
    // so margins subtract exactly, sums are order-free, and the b > a
    // comparison is the round-before-threshold discipline. Scale
    // shape: centroids are a labels x dims aggregate broadcast; vector
    // norms ride a vec_id equi-join; everything per-vector is one
    // partial-aggregated groupBy.
    "q132_centroid_silhouette" -> ((s, d) => {
      val ev = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(Similarity.quantized(col("embedding"))).as(Seq("pos", "vq")))
        .ckptLazy // consumers: norms, centroids, dots
      val vnorm = ev.groupBy("vec_id").agg(sum(col("vq") * col("vq")).as("vn2"))
      val cs = ev.groupBy(col("label").as("c_label"), col("pos"))
        .agg(sum("vq").as("sq"))
      val cnorm = cs.groupBy("c_label").agg(sum(col("sq") * col("sq")).as("cn2"))
      val cosd = ev.join(broadcast(cs), Seq("pos"))
        .groupBy("vec_id", "label", "c_label")
        .agg(sum(col("vq") * col("sq")).as("dot"))
        .join(vnorm, "vec_id").join(broadcast(cnorm), "c_label")
        .withColumn("cos",
          round(col("dot") / (sqrt(col("vn2")) * sqrt(col("cn2"))), 6)
            .cast(DecimalType(18, 6)))
      cosd.groupBy("vec_id", "label")
        .agg(max(when(col("c_label") === col("label"), col("cos"))).as("a"),
          max(when(col("c_label") =!= col("label"), col("cos"))).as("b"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("a") - col("b")).as("sm"),
          sum(when(col("b") > col("a"), 1L).otherwise(0L)).as("n_misassigned"))
        .select(col("label"), col("n_vectors"),
          // sm can be NEGATIVE (a bad clustering): integer div would
          // diverge (Spark truncates, DuckDB floors), so the mean is
          // one double division of the exact decimal sum, rounded
          round(col("sm").cast("double") / col("n_vectors"), 6).as("mean_margin"),
          col("n_misassigned"),
          (expr("cast(n_misassigned * 1000000 as bigint) div n_vectors")
            .cast("double") / lit(1000000.0)).as("misassign_frac"))
        .orderBy("label")
    }),

    // CUSUM changepoint detection (Page 1954 — the level-shift locator
    // that flags WHEN a stream's daily volume changed, where q99's
    // seasonal detector flags days off their weekly pattern): per event
    // type, S_i = cum_i - i*mean over the observed-day index, located
    // at max |S|. The statistic is CROSS-MULTIPLIED to integers
    // (|cum*D - i*total| — no mean, no float, no rounding anywhere
    // until the one reported division), so the argmax is exact;
    // tie-break min day. Scale shape: one (type, day) partial
    // aggregate; the cumulative windows run over the aggregate-sized
    // day spine per type (the q119/q122 case).
    "q133_cusum_changepoint" -> ((s, d) => {
      val dc = t(s, d, "events")
        .select(col("event_type"), expr("ts div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val cum = dc
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("cum", sum("c").over(w))
        .join(dc.groupBy("event_type")
          .agg(sum("c").as("tot"), count(lit(1)).as("nd")), "event_type")
        .withColumn("sS", abs(col("cum") * col("nd") - col("i") * col("tot")))
        .ckptLazy // consumers: max, argmax join
      cum.join(cum.groupBy("event_type").agg(max("sS").as("mx")), "event_type")
        .where(col("sS") === col("mx"))
        .groupBy("event_type")
        .agg(max("nd").as("n_days"), min("day").as("change_day"),
          round(max("mx").cast("double") / max("nd"), 6).as("cusum"))
        .orderBy("event_type")
    }),

    // winsorized length statistics (the outlier-robust moments a corpus
    // report should quote instead of raw means — one 10M-token
    // pathological doc shifts a raw mean, not a winsorized one): per
    // source, exact p5/p95 by q119's integer cross-multiplication, all
    // values clipped into [p5, p95], clipped counts + winsorized mean
    // (micro-scaled integer division of the exact clipped sum). The
    // percentile table is aggregate-sized and broadcast back; one
    // corpus pass + one (source, length) partial aggregate.
    "q134_winsorized_stats" -> ((s, d) => {
      val n0 = t(s, d, "documents")
        .select(col("source"), TF.bpeTokenCount(col("text")).cast("long").as("n"))
        .ckptLazy // consumers: percentile table, clip pass
      val cum = n0.groupBy("source", "n").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(
          Window.partitionBy("source").orderBy("n")))
        .withColumn("tot", sum("c").over(Window.partitionBy("source")))
        .ckptLazy // consumers: p05, p95
      val p5 = cum.where(col("cum") * 100 >= col("tot") * 5)
        .groupBy("source").agg(min("n").as("p05"))
      val p95 = cum.where(col("cum") * 100 >= col("tot") * 95)
        .groupBy("source").agg(min("n").as("p95"))
      n0.join(broadcast(p5), "source").join(broadcast(p95), "source")
        .withColumn("cl", least(greatest(col("n"), col("p05")), col("p95")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          max("p05").as("p05"), max("p95").as("p95"),
          sum(when(col("n") < col("p05"), 1L).otherwise(0L)).as("n_clipped_low"),
          sum(when(col("n") > col("p95"), 1L).otherwise(0L)).as("n_clipped_high"),
          sum("cl").as("scl"))
        .withColumn("win_mean",
          expr("cast(scl * 1000000 as bigint) div n_docs").cast("double")
            / lit(1000000.0))
        .drop("scl")
        .orderBy("source")
    }),

    // per-source character-distribution entropy (the encoding-anomaly
    // detector: mojibake, base64 blobs, or a charset drift in one
    // source's re-crawl all shift the char histogram before any
    // token-level metric notices): Shannon entropy over the character
    // histogram, each -p*log2(p) term computed from identical integer
    // ratios and rounded 6dp INTO DECIMAL so the sum is order-free
    // (q112's discipline); one char-explode pass into a (source, char)
    // partial aggregate — the histogram is alphabet-sized, everything
    // after aggregate-sized. Spark's empty-regex split emits a
    // trailing "" (filtered); DuckDB's does not — the filter is the
    // parity glue.
    "q135_char_entropy" -> ((s, d) => {
      val ch = t(s, d, "documents")
        .select(col("source"), explode(split(col("text"), "")).as("ch"))
        .where(col("ch") =!= "")
        .groupBy("source", "ch").agg(count(lit(1)).as("c"))
        .ckptLazy // consumers: totals, terms
      val tot = ch.groupBy("source")
        .agg(sum("c").as("tot"), count(lit(1)).as("n_distinct_chars"))
      ch.join(broadcast(tot), "source")
        .withColumn("term",
          round(-(col("c") * lit(1.0) / col("tot")) *
            log2(col("c") * lit(1.0) / col("tot")), 6).cast(DecimalType(18, 6)))
        .groupBy("source")
        .agg(max("tot").as("n_chars"),
          max("n_distinct_chars").as("n_distinct_chars"),
          sum("term").as("hdec"))
        .select(col("source"), col("n_chars"), col("n_distinct_chars"),
          round(col("hdec"), 6).cast("double").as("entropy"))
        .orderBy("source")
    }),

    // k-core peeling of the near-dup graph (Seidman 1983 — the
    // dense-boilerplate detector: nodes surviving k=2 peeling sit in
    // CLUSTERS of mutual near-dups, the template farms q43's connected
    // components can't distinguish from chains): 4 fixed peel rounds
    // (the q78/q87 fixed-round oracle mode; production iterates to the
    // fixpoint on the same aggregate-sized round scalars), each round =
    // one partial-aggregated degree count + two left-semi filters, the
    // edge set re-checkpointed eagerly so lineage stays one round deep
    // (the GraphRank trade). Edges are the SAME minhashLshPairs call
    // q43 clusters (one source of truth). Per-round report rows are
    // driver scalars — everything is exact integer counts.
    "q136_kcore_peeling" -> ((s, d) => {
      val pairs = Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
        k = 64, bands = 16, shingleN = 3, threshold = 0.5,
        hotBucketCap = Int.MaxValue /* oracle: exact all-pairs banding */)
      var edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .ckptEager
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      out += ((0,
        edges.select(col("a").as("v")).unionByName(edges.select(col("b").as("v")))
          .distinct().count(),
        edges.count()))
      for (r <- 1 to 4) {
        // lazy boundary (r15): keep is consumed twice inside the next
        // edge filter and once by its count — the LAZY checkpoint
        // materializes it within the edges job, where the eager form
        // paid a separate scheduled job per round
        val keep = edges.select(col("a").as("v"))
          .unionByName(edges.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
          .where(col("deg") >= 2).select("v")
          .ckptLazy
        edges = edges
          .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
          .select("a", "b")
          .ckptEager
        out += ((r, keep.count(), edges.count()))
      }
      import s.implicits._
      out.toSeq.toDF("round", "n_nodes", "n_edges").orderBy("round")
    }),

    // mutual information between two categorical columns (the
    // feature-selection / profiling statistic: how much does lang tell
    // you about source? — q129's FD check answers yes/no, MI answers
    // HOW MUCH, in bits): I(X;Y), H(X), H(Y), and the uncertainty
    // coefficient U(X|Y) = I/H(X). Every log argument is a ratio of
    // identical exact integers (n*c_xy/(c_x*c_y)), each term rounded
    // 6dp into DECIMAL so sums are order-free; the contingency table
    // is one partial-aggregated groupBy, everything after is
    // |langs|x|sources|-sized.
    "q137_mutual_information" -> ((s, d) => {
      val xy = t(s, d, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("cxy"))
        .ckptLazy // consumers: marginals, terms
      val cx = xy.groupBy("lang").agg(sum("cxy").as("cx"))
      val cy = xy.groupBy("source").agg(sum("cxy").as("cy"))
      val n = xy.agg(sum("cxy").as("n"))
      val terms = xy.join(cx, "lang").join(cy, "source").crossJoin(broadcast(n))
        .select(
          round((col("cxy") * lit(1.0) / col("n")) *
            log2(col("n") * lit(1.0) * col("cxy") / (col("cx") * col("cy"))), 6)
            .cast(DecimalType(18, 6)).as("mi_term"),
          col("lang"), col("source"), col("cxy"), col("cx"), col("cy"), col("n"))
      val hx = cx.crossJoin(broadcast(n))
        .select(round(-(col("cx") * lit(1.0) / col("n")) *
          log2(col("cx") * lit(1.0) / col("n")), 6)
          .cast(DecimalType(18, 6)).as("t"))
        .agg(sum("t").as("h_lang_dec"))
      val hy = cy.crossJoin(broadcast(n))
        .select(round(-(col("cy") * lit(1.0) / col("n")) *
          log2(col("cy") * lit(1.0) / col("n")), 6)
          .cast(DecimalType(18, 6)).as("t"))
        .agg(sum("t").as("h_source_dec"))
      terms.agg(count(lit(1)).as("n_cells"), sum("mi_term").as("mi_dec"))
        .crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
        .select(col("n_cells"),
          round(col("mi_dec"), 6).cast("double").as("mi"),
          round(col("h_lang_dec"), 6).cast("double").as("h_lang"),
          round(col("h_source_dec"), 6).cast("double").as("h_source"),
          round(col("mi_dec").cast("double") / col("h_lang_dec").cast("double"), 6)
            .as("uncertainty_coef"))
        .orderBy("n_cells")
    }),

    // top principal component by power iteration, ORACLED cross-engine
    // (the whitening/compression precursor every embedding store runs;
    // iterative float linear algebra normally CAN'T be oracled — this
    // one can because every step is integer-exact): the centered
    // second-moment matrix C = n*M - s*s' is EXACT (M = sum vq*vq'
    // pairwise moments, s = per-dim sums, all integers through the
    // floor(v*1024) bridge; DECIMAL(38,0) = DuckDB HUGEINT); the
    // iterate x stays a 1e6-scaled INTEGER vector — y = C*x is an
    // exact decimal matvec, and normalization is by the max-abs
    // component with sign-split truncating division (sign(y) *
    // (|y|*1e6 div max|y|) — nonnegative operands, so Spark div and
    // DuckDB // agree), so all 4 iterations are bit-identical in both
    // engines; the ONLY doubles are the final loading/eigval
    // conversions. Scale shape: the 64x64 moment matrix is one
    // partial-aggregated self-join groupBy (the single corpus-sized
    // step); each iteration is a broadcast matvec + a 64-row driver
    // collect (the BpeTrainer K-scalars discipline), replicated in the
    // oracle as 4 unrolled CTE rounds.
    "q138_power_iteration_pca" -> ((s, d) => {
      import s.implicits._
      val core = pcaCore(s, d)
      val xs = core.power(4, ortho = None)
      val eig = core.rayleigh(xs)
      xs.zipWithIndex.map { case (v, i) => (i.toLong, v.toLong) }.toSeq
        .toDF("pos", "xsc")
        .select(col("pos"),
          (col("xsc").cast("double") / lit(1000000.0)).as("loading"),
          round(lit(eig), 4).as("eigval"))
        .orderBy("pos")
    }),

    // TOP-2 PCA BY DEFLATED POWER ITERATION — the second component q138
    // stopped short of (a 2-D projection is the minimum for the
    // visual/cluster reads every embedding audit wants): PC1 exactly as
    // q138, then PC2 by power iteration with an ORTHOGONALIZATION step
    // after every normalize — x <- x - sign(d*u1_i)*(|d*u1_i| div u1'u1)
    // with d = u1'x, the truncating sign-split division both engines
    // agree on — so the u1 component is re-annihilated each round and
    // the iterate converges to the second eigenvector without ever
    // forming the deflated matrix (C - lambda*u*u' would square the
    // integer magnitudes; the projection recipe stays in q138's range).
    // Every step is integer-exact (BigInt on the driver = HUGEINT in the
    // oracle's 8 unrolled rounds); the only doubles are the two final
    // Rayleigh quotients. Scale shape: q138's — ONE corpus-sized
    // partial-aggregated self-join builds the 64x64 moment matrix, each
    // round is a broadcast matvec + a 64-row collect (the BpeTrainer
    // K-scalars discipline).
    "q187_pca_deflation" -> ((s, d) => {
      import s.implicits._
      val core = pcaCore(s, d)
      val u1 = core.power(4, ortho = None)
      val eig1 = core.rayleigh(u1)
      val u2 = core.power(4, ortho = Some(u1))
      val eig2 = core.rayleigh(u2)
      Seq((1, u1, eig1), (2, u2, eig2)).flatMap { case (cpt, xs, eig) =>
        xs.zipWithIndex.map { case (v, i) => (cpt, i.toLong, v.toLong, eig) }
      }.toDF("component", "pos", "xsc", "eig")
        .select(col("component"), col("pos"),
          (col("xsc").cast("double") / lit(1000000.0)).as("loading"),
          round(col("eig"), 4).as("eigval"))
        .orderBy("component", "pos")
    }),

    // Benford first-digit conformance (Newcomb 1881 / Benford 1938 —
    // the forensic-QA screen: organically-generated magnitudes follow
    // P(d) = log10(1+1/d), synthetic or truncated feeds don't): the
    // value column in integer cents (floor(v*100+0.5) — identical
    // both engines), first significant digit via the INTEGER-STRING
    // first character (bigint-to-varchar is format-stable cross-engine,
    // unlike double formatting), observed shares micro-scaled integer
    // divisions against the 6dp Benford constants inlined as the SAME
    // literals in both engines (computed once in Scala, interpolated
    // into the oracle SQL — they cannot drift). Deviation is an exact
    // integer. One partial-aggregated groupBy; 9-row output.
    "q139_benford_digits" -> ((s, d) => {
      val benford: Seq[(Int, Long)] = (1 to 9)
        .map(dd => (dd, math.round(math.log10(1.0 + 1.0 / dd) * 1e6)))
      import s.implicits._
      val bdf = benford.toDF("digit", "benford_scaled")
      t(s, d, "events")
        .select(expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("vc"))
        .where(col("vc") > 0)
        .select(expr("cast(substring(cast(vc as string), 1, 1) as int)").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(
          t(s, d, "events")
            .where(expr("cast(floor(value * 100.0 + 0.5) as bigint) > 0"))
            .agg(count(lit(1)).as("tot"))))
        .join(broadcast(bdf), "digit")
        .select(col("digit"), col("n"),
          (expr("cast(n * 1000000 as bigint) div tot").cast("double")
            / lit(1000000.0)).as("p"),
          (col("benford_scaled").cast("double") / lit(1000000.0)).as("benford_p"),
          abs(expr("cast(n * 1000000 as bigint) div tot") - col("benford_scaled"))
            .as("dev_scaled"))
        .orderBy("digit")
    }),

    // LSH recall audit against the exact all-pairs answer (precision is
    // 1.0 by construction — q30 verifies candidates with the exact
    // cosine — so what the banding can LOSE is recall, and this query
    // makes the loss measurable data, the q125 sketch-next-to-exact
    // theme): exact pairs (the documented quadratic VALIDATION oracle,
    // q31's form) anti-joined by the LSH pairs; reports counts, recall
    // (micro-scaled), and the mean cosine of the MISSED pairs (rounded
    // 4dp into DECIMAL before the exact mean — the hard pairs sit just
    // over the threshold, and this number says how far).
    "q140_lsh_recall_audit" -> ((s, d) => {
      val ex = Similarity.exactNearDupPairs(t(s, d, "embeddings"),
          "vec_id", "embedding", minCosine = 0.4)
        .select(col("id_a"), col("id_b"),
          round(col("cosine"), 4).cast(DecimalType(18, 4)).as("cos4"))
        .ckptLazy // consumers: counts, anti-join
      val ls = Similarity.lshNearDupPairs(t(s, d, "embeddings"),
          "vec_id", "embedding", dim = 64, nBits = 4, tables = 24,
          minCosine = 0.4)
        .select("id_a", "id_b")
      val missed = ex.join(ls, Seq("id_a", "id_b"), "left_anti")
      missed.agg(count(lit(1)).as("n_missed"), sum("cos4").as("smc"))
        .crossJoin(broadcast(ex.agg(count(lit(1)).as("n_exact"))))
        .crossJoin(broadcast(ls.agg(count(lit(1)).as("n_lsh"))))
        .select(col("n_exact"), col("n_lsh"), col("n_missed"),
          // n_exact = 0 guard: Spark's `div 0` yields NULL while DuckDB's
          // `// 0` errors — an embeddings fixture with no exact pairs above
          // the threshold must agree at recall = 0.0 in both engines.
          when(col("n_exact") === 0, lit(0.0)).otherwise(
            expr("cast((n_exact - n_missed) * 1000000 as bigint) div n_exact")
              .cast("double") / lit(1000000.0)).as("recall"),
          when(col("n_missed") === 0, lit(0.0)).otherwise(
            expr("cast(smc * 10000 as bigint) div n_missed").cast("double")
              / lit(10000.0)).as("mean_missed_cos"))
        .orderBy("n_exact")
    }),

    // Hill tail-index estimator over the token frequency distribution
    // (Hill 1975 — the statistically-principled heavy-tail exponent,
    // where q98's Zipf slope is a log-log REGRESSION: the two should
    // roughly agree, and a gap between them is itself a distribution-
    // shape diagnostic): alpha_hat = k / sum_{i<=k} ln(f_i / f_k+1...)
    // over the top-k order statistics. Parity: the top-(k+1)
    // frequencies come from one TakeOrderedAndProject (q51's shape),
    // each ln(f_i/f_ref) is a log of a ratio of identical integers
    // rounded 6dp into DECIMAL (order-free sum), and alpha is the one
    // double division at the end. Token groupBy partial-aggregated;
    // everything after is k-row sized.
    "q141_hill_tail_index" -> ((s, d) => {
      val k = 20
      val top = t(s, d, "documents")
        .select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("token")).limit(k + 1)
        .withColumn("r",
          row_number().over(Window.orderBy(col("f").desc, col("token"))))
        .ckptLazy // consumers: reference row, terms
      val fref = top.where(col("r") === k + 1).select(col("f").as("fk"))
      top.where(col("r") <= k).crossJoin(broadcast(fref))
        .select(round(log(col("f") * lit(1.0) / col("fk")), 6)
          .cast(DecimalType(18, 6)).as("term"))
        .agg(count(lit(1)).as("kk"), sum("term").as("slog"))
        .select(lit(k).as("k"),
          round(col("slog"), 6).cast("double").as("sum_log_ratio"),
          round(col("kk").cast("double") / col("slog").cast("double"), 6)
            .as("alpha_hat"))
        .orderBy("k")
    }),

    // dedup-ROI coverage curve (the decision table behind "how much of
    // the corpus do we actually need": distinct 3-gram coverage as a
    // function of the deterministic md5-order ingestion prefix — the
    // same order q128's sampler and q88's budgets draw in, so the
    // curve PRICES those budgets): docs bucket by the first hex nibble
    // of md5(doc_id) (16 uniform ~6.25% ingestion steps); a shingle's
    // first occurrence is its MINIMUM (nibble-ordered md5, doc_id)
    // key — one partial-aggregated min per shingle hash, never a
    // window (q82/q105's pattern); new-shingle counts per step and the
    // cumulative curve run over the 16-row aggregate. Exact integers
    // end to end.
    "q142_coverage_curve" -> ((s, d) => {
      val setUdf = udf((text: String) =>
        graft.functions.ShingleKernel.md5ShingleSet60(text, 3))
      val sh = t(s, d, "documents")
        .select(col("doc_id"),
          expr("cast(conv(substring(md5(cast(cast(doc_id as string) as binary)), 1, 1), 16, 10) as int)")
            .as("nib"),
          setUdf(col("text")).as("hs"))
        .where(size(col("hs")) > 0)
        .select(col("doc_id"), col("nib"), explode(col("hs")).as("h"))
        .ckptLazy // consumers: doc counts, first-occurrence
      val docsPer = sh.select("doc_id", "nib").distinct()
        .groupBy("nib").agg(count(lit(1)).as("n_docs"))
      val firstNib = sh.groupBy("h").agg(min("nib").as("nib"))
        .groupBy("nib").agg(count(lit(1)).as("new_shingles"))
      docsPer.join(firstNib, Seq("nib"), "left")
        .select(col("nib"), col("n_docs"),
          coalesce(col("new_shingles"), lit(0L)).as("new_shingles"))
        .withColumn("cum_docs", sum("n_docs").over(Window.orderBy("nib")))
        .withColumn("cum_shingles", sum("new_shingles").over(Window.orderBy("nib")))
        .orderBy("nib")
    }),

    // deterministic permutation test (Fisher's exchangeability logic
    // with md5-derived pseudo-permutations instead of RNG — the
    // significance screen behind "source X's documents are longer":
    // is the observed mean-length gap vs the rest bigger than random
    // relabeling produces?): 20 null relabelings assign each doc by
    // md5(doc_id, k) % 20 == 0 (approximately source-proportioned —
    // valid under the exchangeability null, documented as the
    // approximate-size variant), the test statistic is the
    // MICRO-QUANTIZED mean difference (q122's quantize-before-compare
    // discipline: both means are exact integer divisions, so the
    // >= comparison has no float boundary), and the p-value is the
    // add-one-smoothed exceedance fraction. One corpus pass for the
    // observed table, one x20 explode for the nulls; everything after
    // is 20-row aggregates.
    "q143_permutation_test" -> ((s, d) => {
      val y = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TF.bpeTokenCount(col("text")).cast("long").as("n"))
        .ckptLazy // consumers: observed stats, null perms
      val glob = y.agg(sum("n").as("gs"), count(lit(1)).as("gn"))
      val obs = y.groupBy("source").agg(sum("n").as("sa"), count(lit(1)).as("na"))
        .crossJoin(broadcast(glob))
        .withColumn("obs_diff", abs(
          expr("cast(sa * 1000000 as bigint) div na") -
            expr("cast((gs - sa) * 1000000 as bigint) div (gn - na)")))
      val perms = y
        .select(col("doc_id"), col("n"), explode(expr("sequence(1, 20)")).as("k"))
        .where(expr(
          "cast(conv(substr(md5(cast(concat(doc_id, '_', k) as binary)), 1, 15), 16, 10) as bigint) % 20"
        ) === 0)
        .groupBy("k").agg(sum("n").as("pa"), count(lit(1)).as("pn"))
        .crossJoin(broadcast(glob))
        .select(col("k"), abs(
          expr("cast(pa * 1000000 as bigint) div pn") -
            expr("cast((gs - pa) * 1000000 as bigint) div (gn - pn)")).as("perm_diff"))
      obs.crossJoin(broadcast(perms))
        .groupBy("source", "na", "obs_diff")
        .agg(sum(when(col("perm_diff") >= col("obs_diff"), 1L).otherwise(0L))
          .as("n_ge"))
        .select(col("source"), col("na").as("n_docs"),
          (col("obs_diff").cast("double") / lit(1000000.0)).as("obs_diff"),
          (expr("cast((n_ge + 1) * 1000000 as bigint) div 21").cast("double")
            / lit(1000000.0)).as("p_value"))
        .orderBy("source")
    }),

    // right-to-be-forgotten impact analysis (the provenance question a
    // lake answers BEFORE executing a deletion batch: what does
    // removing these documents break?): for the deletion set
    // doc_id % 101 == 0 — near-dup pairs touching a deleted doc,
    // clusters containing one, clusters losing their canonical
    // REPRESENTATIVE (q43's min-member convention — those need
    // re-election), 5-gram shingles retired outright (only deleted
    // docs carried them) vs needing first-occurrence re-attribution
    // (q105/q116's provenance moves to a surviving doc). Pairs and
    // clusters are the SAME minhashLshPairs/dupClusters definitions
    // q26/q43 check; shingle attribution is the q116 min-combine, one
    // partial-aggregated groupBy; the report is one row of exact
    // counts.
    "q144_deletion_impact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 64, bands = 16, shingleN = 3, threshold = 0.5,
          hotBucketCap = Int.MaxValue)
        .ckptLazy // consumers: pair metric, clusters
      val clusters = Dedup.dupClusters(pairs)
      val setUdf = udf((text: String) =>
        graft.functions.ShingleKernel.md5ShingleSet60(text, 5))
      val shAgg = docs
        .select(col("doc_id"), explode(setUdf(col("text"))).as("h"))
        .groupBy("h").agg(min("doc_id").as("fd"),
          max(when(col("doc_id") % 101 =!= 0, 1).otherwise(0)).as("has_surv"))
      val nDel = docs.where(col("doc_id") % 101 === 0)
        .agg(count(lit(1)).as("n_deleted"))
      val pairsHit = pairs
        .where(col("doc_a") % 101 === 0 || col("doc_b") % 101 === 0)
        .agg(count(lit(1)).as("n_pairs_hit"))
      val clustersHit = clusters.groupBy("cluster_id")
        .agg(max(when(col("doc_id") % 101 === 0, 1).otherwise(0)).as("hit"))
        .agg(sum("hit").as("n_clusters_hit"))
      val repsLost = clusters.select("cluster_id").distinct()
        .where(col("cluster_id") % 101 === 0)
        .agg(count(lit(1)).as("n_reps_lost"))
      val shingles = shAgg.agg(
        sum(when(col("has_surv") === 0, 1L).otherwise(0L))
          .as("n_shingles_retired"),
        sum(when(col("fd") % 101 === 0 && col("has_surv") === 1, 1L).otherwise(0L))
          .as("n_shingles_reattributed"))
      nDel.crossJoin(broadcast(pairsHit)).crossJoin(broadcast(clustersHit))
        .crossJoin(broadcast(repsLost)).crossJoin(broadcast(shingles))
        .orderBy("n_deleted")
    }),

    // k-fold cross-validated centroid classification (the evaluation
    // harness q65's resubstitution accuracy is NOT — held-out folds
    // are what a label-quality report should quote): 5 md5-derived
    // folds (deterministic, no RNG); per fold, label centroids train
    // on the OTHER four (integer sums through the floor(v*1024)
    // bridge), the held-out vectors score by the q65 mean-centroid dot
    // (one double division of identical exact integers per
    // (vec, label)), argmax by (score desc, label) — the proven q65
    // comparison pattern. All five folds ride ONE plan: the fold id is
    // a column, train sums per (fold, label, pos) come from the
    // complement trick total - own_fold (two aggregate-sized tables,
    // no 5x recompute), everything after the posexplode partial
    // aggregates is folds x labels x dims sized.
    "q145_crossval_centroid" -> ((s, d) => {
      val ev = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          expr("cast(conv(substr(md5(cast(cast(vec_id as string) as binary)), 1, 15), 16, 10) as bigint) % 5")
            .cast("int").as("fold"),
          posexplode(Similarity.quantized(col("embedding"))).as(Seq("pos", "vq")))
        .ckptLazy // consumers: per-fold sums, scoring
      // grouped by pos, each vector contributes exactly one row, so the
      // count IS the fold+label vector count
      val perFold = ev.groupBy("fold", "label", "pos")
        .agg(sum("vq").as("sf"), count(lit(1)).as("nf"))
      val total = perFold.groupBy("label", "pos")
        .agg(sum("sf").as("st"), sum("nf").as("nt"))
      // train centroids for fold f = totals minus fold f's own mass
      // n_c = 0 guard: if every vector of a label lands in one fold, its
      // complement count is 0 and score = dot/0 — Spark NaN-sorts-highest
      // vs DuckDB division semantics diverge. Such (fold, label) centroids
      // are untrained; drop them in BOTH engines.
      val train = perFold.join(total, Seq("label", "pos"))
        .select(col("fold"), col("label").as("c_label"), col("pos"),
          (col("st") - col("sf")).as("sq"), (col("nt") - col("nf")).as("n_c"))
        .where(col("n_c") > 0)
      val scored = ev.join(train, Seq("fold", "pos"))
        .groupBy("vec_id", "fold", "label", "c_label", "n_c")
        .agg(sum(col("vq") * col("sq")).as("dot"))
        .withColumn("score", col("dot").cast("double") / col("n_c").cast("double"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("score").desc, col("c_label"))))
        .where(col("rnk") === 1)
      scored.groupBy("fold")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("label") === col("c_label"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("accuracy",
          expr("cast(n_correct * 1000000 as bigint) div n_test").cast("double")
            / lit(1000000.0))
        .orderBy("fold")
    }),

    // dedup-adjusted effective corpus size (the number a mixture
    // planner should budget against — raw token counts double-count
    // near-dup clusters; dividing each doc's mass by its q43 cluster
    // size makes every cluster contribute ~one document's worth): per
    // source, raw tokens vs effective tokens = sum(n * 1e6 div
    // cluster_size) micro-scaled (exact truncating division per doc —
    // order-free integer sums), singleton docs weigh 1. Clusters are
    // the SAME dupClusters definition q43 checks; one corpus pass
    // plus an aggregate-sized cluster-size join.
    "q146_effective_size" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val clusters = Dedup.dupClusters(
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 64, bands = 16, shingleN = 3, threshold = 0.5,
          hotBucketCap = Int.MaxValue))
        .ckptLazy // consumers: sizes, membership join
      val csize = clusters.groupBy("cluster_id").agg(count(lit(1)).as("csz"))
      val withSz = docs
        .select(col("doc_id"), col("source"),
          TF.bpeTokenCount(col("text")).cast("long").as("n"))
        .join(clusters.join(csize, "cluster_id").select("doc_id", "csz"),
          Seq("doc_id"), "left")
        .withColumn("csz", coalesce(col("csz"), lit(1L)))
      withSz.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("raw_tokens"),
          sum(expr("cast(n * 1000000 as bigint) div csz")).as("eff_scaled"))
        .select(col("source"), col("n_docs"), col("raw_tokens"),
          (col("eff_scaled").cast("double") / lit(1000000.0)).as("effective_tokens"))
        .orderBy("source")
    }),

    // language-ID confusion audit (label-quality for the METADATA —
    // q23 emits per-doc predictions, this is the aggregate matrix that
    // says where the lang column and the heuristic disagree, per-truth
    // row-normalized): (lang, pred) counts from the SAME TF.langId
    // definition q23 oracles, row fractions micro-scaled via a
    // groupBy-join-back (never a window over the label); the matrix is
    // langs^2-sized.
    "q147_langid_confusion" -> ((s, d) => {
      val pl = t(s, d, "documents")
        .select(col("lang"), TF.langId(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .ckptLazy // consumers: totals, rows
      pl.join(pl.groupBy("lang").agg(sum("n").as("tot")), "lang")
        .select(col("lang"), col("pred"), col("n"),
          (expr("cast(n * 1000000 as bigint) div tot").cast("double")
            / lit(1000000.0)).as("frac"))
        .orderBy("lang", "pred")
    }),

    // frozen-vocabulary OOV coverage (the report read before shipping
    // a fixed tokenizer vocabulary: what fraction of each source falls
    // out of it): vocab = top-16 corpus words (one
    // TakeOrderedAndProject, broadcast back as the membership side of
    // a left join); per-source token totals and OOV counts exact,
    // fraction micro-scaled. The cap is 16 BECAUSE the fixture's
    // template vocabulary is 31 words (probed) — a 1000-word cap would
    // leave the OOV branch vacuously untested (the q121 lesson); in
    // production the cap is the tokenizer's real vocab size.
    "q148_vocab_coverage" -> ((s, d) => {
      val words = t(s, d, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("w"))
        .ckptLazy // consumers: vocab, coverage
      val vocab = words.groupBy("w").agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("w")).limit(16)
        .select(col("w"), lit(1).as("iv"))
      words.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_frac",
          expr("cast(n_oov * 1000000 as bigint) div n_tokens").cast("double")
            / lit(1000000.0))
        .orderBy("source")
    }),

    // unigram-LM (SentencePiece-style) tokenizer training — the second
    // mainstream public tokenizer next to BPE (q87), completing the
    // family (r9 verdict #3). Hard-EM over the distinct-word frequency
    // table: Viterbi E-step on MICRO-SCALED INTEGER costs (the whole DP
    // is integer-exact cross-engine; the only float op per round is one
    // ln of identical integers per piece under the round-1e6
    // discipline), count M-step with add-one smoothing, geometric
    // inventory shrink between rounds (singles always kept for
    // coverage). Oracle: the full 2-round loop unrolled as MATERIALIZED
    // chained CTEs — 16 DP steps + 16 backtrace steps per round, the
    // q78/q87/q138 pattern — with the arg-min tie broken by the same
    // composite (total*8 + piece_len) key as the JVM kernel. Output =
    // (piece, final Viterbi count, the cost that produced it): applying
    // the returned costs reproduces cnt exactly (UnigramTrainerSpec).
    // Oracle pins multiVocab=60; the production default is VocabAuto →
    // unigramVocabFor(|vocab|) (the CapAuto sizing pattern).
    "q149_unigram_train" -> ((s, d) =>
      UnigramTrainer.train(t(s, d, "documents"), "text",
          maxPieceLen = 4, maxWordLen = 16,
          multiVocab = 60 /* oracle: pinned; default is sized */,
          rounds = 2, shrink = 0.75)
        .orderBy("piece")),

    // perceptual-hash near-dup REPORT over the multimodal column — the
    // dedup member the media family lacked (r9 verdict #4): per-payload
    // 60-bit dHash (gradient of the decoded 1-D luminance strip, 61-
    // sample nearest resize) banded through the SAME 4x15-bit pigeonhole
    // machinery as text SimHash (Dedup.hammingBandPairs, factored out of
    // simhashPairs), verified by codegen bit_count. Byte-fake decode
    // mode (decodeFrames 64 — the q32/q42 SQL-reproducible oracle path;
    // real codecs are spec-golden in MultimodalPHashSpec). The fixture's
    // template corpus collapses to ~334 hash groups with buckets up to
    // ~520 docs (probed at sf0.1) — ~410k same-hash pairs — so the
    // QUERY output is the aggregate (hamming, n_pairs) histogram, not
    // the raw pair list; the operator surface returns pairs and the
    // oracle reproduces hash+banding+popcount exactly. Hash comparisons
    // are means of exact integer sums (one double division each) — the
    // shared-operand rule, no float discipline needed past it. Oracle
    // pins hotBucketCap=MaxValue (exact all-pairs banding); production
    // default is CapAuto (the r8/r9 star-edge sizing rule, inherited).
    // Plan shape: the histogram NEVER materializes doc pairs. A template
    // corpus collapses to few distinct hashes (334 at sf0.1 over 5000
    // docs — ~410k same-hash pairs), so doc-pair banding shuffles
    // O(pairs); instead the signature table partial-aggregates to
    // (sim, count) — the same move as Dedup.exact — hamming-0 mass is
    // SUM(c*(c-1)/2), and cross-hash mass bands the DISTINCT signatures
    // (334 rows, hammingBandPairs with sim as its own id) weighted
    // c_a*c_b. Identical histogram, combinatorially counted: shuffles
    // carry distinct-hash rows, not pair rows — 121 MB -> ~kB at sf0.1.
    // (imageNearDupPairs itself stays the pair-emitting operator surface
    // with the CapAuto production cap; MultimodalPHashSpec covers it.)
    "q150_perceptual_neardup" -> ((s, d) => {
      val packed = Multimodal.packBinary(
        t(s, d, "documents").where(length(col("text")) > 0), "doc_id", "text")
      val hashUdf = udf((content: Array[Byte]) =>
        Multimodal.perceptualHash60(Multimodal.decodeFrames(content, 64)))
      val groups = packed.select(hashUdf(col("content")).as("sim"))
        .groupBy("sim").agg(count(lit(1)).as("c"))
        .ckptLazy // consumers: h0 mass, banding, two weight joins
      val h0 = groups.agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("n_pairs"))
        .select(lit(0).cast("int").as("hamming"), col("n_pairs"))
        .where(col("n_pairs") > 0)
      val crossH = Dedup.hammingBandPairs(
          groups.select(col("sim").as("doc"), col("sim")),
          maxHamming = 3, hotBucketCap = Int.MaxValue /* distinct sims: tiny */)
        .join(groups.select(col("sim").as("doc_a"), col("c").as("ca")), "doc_a")
        .join(groups.select(col("sim").as("doc_b"), col("c").as("cb")), "doc_b")
        .groupBy("hamming").agg(sum(col("ca") * col("cb")).as("n_pairs"))
      h0.unionByName(crossH).orderBy("hamming")
    }),

    // RTBF EXECUTION (q144 reports deletion impact; this applies it —
    // r9 verdict #5): the post-deletion corpus state for the q144
    // deletion batch (doc_id % 101), computed INCREMENTALLY by
    // Dedup.rtbfApply — untouched clusters pass through via one
    // anti-join on the deletion-sized affected-id broadcast, only
    // affected survivors re-cluster (a deleted bridge doc splits its
    // cluster), and only shingles whose owner was deleted re-attribute
    // (retired ones drop). THE ORACLE IS THE FULL RECOMPUTE (recursive
    // components over surviving pairs + min-surviving-owner per
    // shingle), so every driver gate re-proves incremental == full
    // cross-engine. Output: per surviving doc, its new cluster and the
    // count of shingles it now owns first-occurrence of. Same pair
    // machinery as q43/q144/q146 (uncapped oracle banding), same 5-gram
    // shingle identity as q144.
    "q151_rtbf_apply" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 64, bands = 16, shingleN = 3, threshold = 0.5,
          hotBucketCap = Int.MaxValue /* oracle: exact all-pairs banding */)
        .select("doc_a", "doc_b")
        .ckptLazy // consumers: pre-clusters, rtbf edges
      val clustersFull = docs.select("doc_id")
        .join(Dedup.dupClusters(pairs), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val shUdf = udf((text: String) =>
        graft.functions.ShingleKernel.md5ShingleSet60(text, 5))
      val postings = docs
        .select(col("doc_id"), explode(shUdf(col("text"))).as("h"))
        .ckptLazy // consumers: first-occurrence, re-attribution
      val firstOcc = postings.groupBy("h").agg(min("doc_id").as("doc_id"))
      val deleted = docs.where(col("doc_id") % 101 === 0).select("doc_id")
      val (nc, nf) = Dedup.rtbfApply(clustersFull, pairs, postings, firstOcc, deleted)
      val perDoc = nf.groupBy("doc_id").agg(count(lit(1)).as("n_first_shingles"))
      nc.join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id"),
          coalesce(col("n_first_shingles"), lit(0L)).as("n_first_shingles"))
        .orderBy("doc_id")
    }),

    // the trained unigram tokenizer APPLIED to the corpus (q149's q93:
    // the production encode path training exists for) — per-doc word and
    // piece counts plus fertility under the q149 model. ONE corpus pass
    // builds the (doc, word, tf) table; the trainer's vocabulary derives
    // from it (trainFromWordCounts — no second scan); the encode is the
    // per-DISTINCT-WORD Viterbi (train==apply: the returned costs
    // reproduce the round-2 segmentation, UnigramTrainerSpec), joined
    // back to tf on the aggregated word key — |V| kernel calls, never
    // one per corpus token. Fertility is the micro-scaled integer
    // division. The oracle reuses the train CTEs: p2 already IS every
    // word's segmentation under the final costs.
    "q152_unigram_tokenize" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("word"))
        .where(length(col("word")).between(1, 16))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .ckptLazy // consumers: vocabulary, apply join
      val words = tf.groupBy("word").agg(sum("tf").as("wc"))
      val model = UnigramTrainer
        .trainFromWordCounts(words, maxPieceLen = 4,
          multiVocab = 60 /* oracle: pinned, = q149 */, rounds = 2, shrink = 0.75)
        .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      val npUdf = udf((w: String) =>
        UnigramTrainer.viterbiPieces(w, model, 4).length.toLong)
      val wnp = words.select(col("word")).withColumn("np", npUdf(col("word")))
      tf.join(wnp, "word")
        .groupBy("doc_id")
        .agg(sum("tf").as("n_words"), sum(col("tf") * col("np")).as("n_pieces"))
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          (expr("cast(n_pieces * 1000000 as bigint) div n_words").cast("double")
            / lit(1000000.0)).as("fertility"))
        .orderBy("doc_id")
    }),

    // INTEGER-EXACT fixed-round Lloyd k-means, CROSS-ENGINE ORACLED —
    // the trainer the IVF/SemDeDup family used to hold as spec-only
    // ("no SQL oracle for float k-means"): the q138 discipline makes it
    // oracle-able after all. Vectors ride the floor(v*1024) bridge,
    // distances are exact integer L2, assignment ties break to the min
    // centroid id (row_number mirror), centroid updates are
    // sign-split truncating divisions of exact integer sums, init is
    // the md5-order first K vectors — so all 3 rounds are bit-identical
    // in both engines and the oracle unrolls them as chained CTEs.
    // Output: the K x D centroid table with final-assignment sizes.
    // Scale shape: per round one narrow kernel pass + one
    // partial-aggregated (cid, pos) groupBy; K x D driver scalars.
    "q153_kmeans_exact" -> ((s, d) => {
      import s.implicits._
      val (cents, sizes) = Similarity.kmeansTrainExact(
        t(s, d, "embeddings"), "vec_id", "embedding", k = 8, rounds = 3)
      cents.zipWithIndex.flatMap { case (cent, cid) =>
        cent.zipWithIndex.map { case (cq, pos) => (cid, pos, cq, sizes(cid)) }
      }.toSeq.toDF("cid", "pos", "cq", "n").orderBy("cid", "pos")
    }),

    // PRODUCT-QUANTIZATION codebook training (Jégou et al. 2011),
    // CROSS-ENGINE ORACLED — the memory-compression half of the ANN
    // story (IVF q39 prunes the search space; PQ compresses the
    // vectors): q153's integer Lloyd run per contiguous subspace, ALL
    // subspaces in the same per-round passes (one fused kernel + one
    // partial-aggregated (sub, cid, pos) groupBy — subspaces add no
    // passes). Same determinism inventory as q153, so the oracle
    // threads a `sub` column through the same unrolled CTEs. Output:
    // the 4x8x16 codebook table with final-assignment code sizes.
    "q154_pq_codebooks" -> ((s, d) => {
      import s.implicits._
      val (cents, sizes) = Similarity.pqTrainExact(
        t(s, d, "embeddings"), "vec_id", "embedding", nSub = 4, k = 8, rounds = 3)
      val subDim = cents(0)(0).length
      (for {
        sub <- cents.indices; cid <- cents(sub).indices
        p <- cents(sub)(cid).indices
      } yield (sub, cid, sub * subDim + p, cents(sub)(cid)(p), sizes(sub)(cid)))
        .toDF("sub", "cid", "pos", "cq", "n").orderBy("sub", "cid", "pos")
    }),

    // PQ reconstruction-error audit (the sketch-next-to-exact theme of
    // q123/q125/q140 — the compression's cost as DATA, next to q123's
    // int8 audit of the scalar-quantization alternative): every vector
    // encodes to its nearest code per subspace under the q154 codebooks
    // and the chosen integer L2 distances sum to the EXACT
    // reconstruction error — all-integer end to end (per-dim mean is a
    // truncating division), no float discipline needed anywhere. The
    // oracle adds one more assignment round over the trained c3.
    "q155_pq_error" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      val (cents, _) = Similarity.pqTrainExact(
        embs, "vec_id", "embedding", nSub = 4, k = 8, rounds = 3)
      Similarity.pqReconstructionError(embs, "vec_id", "embedding", "label", cents)
        .orderBy("label")
    }),

    // PQ ASYMMETRIC-DISTANCE top-k search with its recall audit — the
    // search side of q154's codebooks (Jégou et al.'s ADC), completing
    // the ANN stack: IVF prunes (q39), PQ compresses (q154), ADC
    // searches the compressed codes. Each corpus vector encodes once
    // (the shared pqNearestCodes kernel); queries score codes by
    // integer L2 to the code centroids (ADC) and the audit compares
    // ADC top-5 against exact top-5 per query (the q140
    // approximation-error-as-data pattern) — every distance is an exact
    // integer, so recall is bit-identical cross-engine. Scale shape:
    // top-k per query goes TWO-LEVEL (Similarity.twoLevelTopK — the
    // few-key-window discipline; direct per-query ranking would put a
    // corpus partition in one task) with the shard count sized by
    // topkShardsFor; the query draw is the md5-order deterministic
    // prefix (auditQueryDraw — no contiguous-id assumption; oracle pins
    // n=8), riding the kernel closure.
    "q156_pq_adc_recall" -> ((s, d) => {
      val K = 5
      val embs = t(s, d, "embeddings")
      val (cents, _) = Similarity.pqTrainExact(
        embs, "vec_id", "embedding", nSub = 4, k = 8, rounds = 3)
      val qv = embs.select(col("vec_id").as("vid"),
          Similarity.quantized(col("embedding")).as("q"))
        .ckptLazy // consumers: query pick + scoring pass
      val nVecs = qv.count() // materializes the checkpoint; sizing input
      val queryVecs = Similarity.auditQueryDraw(qv, 8 /* oracle: pinned */)
      val nSub = cents.length
      // real ADC (Jégou §V): per-query nSub x k lookup tables ride the
      // closure; scoring a row is nSub lookups, not a dim-wide walk —
      // identical integer totals by construction (Similarity.adcLut)
      val luts = queryVecs.map { case (qid, qq) =>
        (qid, qq, Similarity.adcLut(qq, cents))
      }
      val distUdf = udf((q: Array[Long]) => {
        val codes = Similarity.pqNearestCodes(q, cents)
        luts.map { case (qid, qq, lut) =>
          var adc = 0L
          var s2 = 0
          while (s2 < nSub) { adc += lut(s2)(codes(s2)); s2 += 1 }
          var ex = 0L
          var i = 0
          while (i < qq.length) {
            val df0 = qq(i) - q(i)
            ex += df0 * df0
            i += 1
          }
          (qid, adc, ex)
        }
      })
      val scored = qv.select(col("vid"), explode(distUdf(col("q"))).as("t"))
        .select(col("t._1").as("query_id"), col("vid"),
          col("t._2").as("adc"), col("t._3").as("ex"))
        .where(col("vid") =!= col("query_id"))
        .ckptLazy // consumers: adc ranks, exact ranks
      val shards = Similarity.topkShardsFor(queryVecs.length.toLong, nVecs)
      def top5(dcol: String) =
        Similarity.twoLevelTopK(scored, "query_id", "vid", dcol, K, shards)
      top5("adc").withColumn("a", lit(1))
        .join(top5("ex").withColumn("e", lit(1)), Seq("query_id", "vid"), "full")
        .groupBy("query_id")
        .agg(sum(when(col("a") === 1 && col("e") === 1, 1L).otherwise(0L))
          .as("n_overlap"))
        .select(col("query_id"), col("n_overlap"),
          (expr(s"cast(n_overlap * 1000000 as bigint) div $K").cast("double")
            / lit(1000000.0)).as("recall"))
        .orderBy("query_id")
    }),

    // IVF-PQ COMPOSED search (the production ANN layout — FAISS's
    // IVFPQ shape): q153's integer k-means partitions the corpus into
    // cells, q154's codebooks compress the vectors, and a query probes
    // its 2 nearest cells then ranks ONLY their members by ADC — the
    // recall-vs-work trade of real vector stores, audited against exact
    // top-5 over the whole corpus (n_cand says how little was
    // searched). Every distance, probe rank, and code is exact integer
    // arithmetic, so the ENTIRE composition is bit-identical
    // cross-engine — the oracle runs BOTH trainings in one query
    // (prefix-parameterized CTE sets) plus the probe/ADC/overlap
    // chain. Scale shape: one narrow kernel pass computes each
    // vector's cell + codes + per-query distances; two-level top-k as
    // q156; probed-cell sets are 8x2 driver scalars.
    "q157_ivfpq_search" -> ((s, d) => {
      val K = 5
      val nProbe = 2
      val embs = t(s, d, "embeddings")
      val (cellCents, _) = Similarity.kmeansTrainExact(
        embs, "vec_id", "embedding", k = 8, rounds = 3)
      val (cents, _) = Similarity.pqTrainExact(
        embs, "vec_id", "embedding", nSub = 4, k = 8, rounds = 3)
      val qv = embs.select(col("vec_id").as("vid"),
          Similarity.quantized(col("embedding")).as("q"))
        .ckptLazy // consumers: query pick + scoring pass
      val nVecs = qv.count() // materializes the checkpoint; sizing input
      val queryVecs = Similarity.auditQueryDraw(qv, 8 /* oracle: pinned */)
      def l2(a: Array[Long], b: Array[Long]): Long = {
        var s2 = 0L; var i = 0
        while (i < a.length) { val df0 = a(i) - b(i); s2 += df0 * df0; i += 1 }
        s2
      }
      // probed cells per query: 8x2 driver scalars, (dist, cell) order
      val probes: Map[Long, Set[Int]] = queryVecs.map { case (qid, qq) =>
        qid -> cellCents.indices.sortBy(c => (l2(qq, cellCents(c)), c))
          .take(nProbe).toSet
      }.toMap
      val cellWrap = Array(cellCents) // full vector = one 64-wide subspace
      val nSub = cents.length
      // real ADC lookup tables, as q156 (identical totals by construction)
      val luts = queryVecs.map { case (qid, qq) =>
        (qid, qq, Similarity.adcLut(qq, cents))
      }
      val distUdf = udf((q: Array[Long]) => {
        val cell = Similarity.pqNearestCodes(q, cellWrap)(0)
        val codes = Similarity.pqNearestCodes(q, cents)
        val qa = q.toArray
        luts.map { case (qid, qq, lut) =>
          var adc = 0L
          var s2 = 0
          while (s2 < nSub) { adc += lut(s2)(codes(s2)); s2 += 1 }
          (qid, adc, l2(qq, qa), probes(qid).contains(cell))
        }
      })
      val scored = qv.select(col("vid"), explode(distUdf(col("q"))).as("t"))
        .select(col("t._1").as("query_id"), col("vid"),
          col("t._2").as("adc"), col("t._3").as("ex"), col("t._4").as("cand"))
        .where(col("vid") =!= col("query_id"))
        .ckptLazy // consumers: adc ranks, exact ranks, n_cand
      val shards = Similarity.topkShardsFor(queryVecs.length.toLong, nVecs)
      def top5(df: DataFrame, dcol: String) =
        Similarity.twoLevelTopK(df, "query_id", "vid", dcol, K, shards)
      val nCand = scored.where(col("cand"))
        .groupBy("query_id").agg(count(lit(1)).as("n_cand"))
      top5(scored.where(col("cand")), "adc").withColumn("a", lit(1))
        .join(top5(scored, "ex").withColumn("e", lit(1)),
          Seq("query_id", "vid"), "full")
        .groupBy("query_id")
        .agg(sum(when(col("a") === 1 && col("e") === 1, 1L).otherwise(0L))
          .as("n_overlap"))
        .join(nCand, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          col("n_overlap"),
          (expr(s"cast(n_overlap * 1000000 as bigint) div $K").cast("double")
            / lit(1000000.0)).as("recall"))
        .orderBy("query_id")
    }),

    // deterministic NEGATIVE-SAMPLING batch constructor for contrastive
    // training (the in-batch-negatives table a retrieval/embedding
    // trainer consumes): per anchor, 4 md5-derived negatives (offset =
    // 1 + md5(anchor, j) % (N-1), mod N — never the anchor itself, no
    // RNG, contiguous-id contract like q88/q128's draws; SchemaProbeSpec
    // asserts min=0/max=N-1/distinct=N on the LIVE table), each scored
    // by exact integer-quantized cosine (integer dot and norms through
    // the floor(v*1024) bridge — one sqrt-divide-round per pair, the
    // q102 discipline) and flagged hard when the ROUNDED cosine clears
    // the threshold (round-before-compare). Scale shape: N x 4 rows,
    // two id-keyed equi-joins against the once-normed vector table, no
    // window, no shuffle beyond the joins; codegen HOF dot (tiny per
    // row — the fused-kernel rule applies only where a measured
    // interpreted form is slower).
    "q158_negative_sampling" -> ((s, d) => {
      val kNeg = 4
      val embs = t(s, d, "embeddings")
      val qn = embs.select(col("vec_id"),
          Similarity.quantized(col("embedding")).as("q"))
        .withColumn("nrm",
          expr("aggregate(zip_with(q, q, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
        .ckptLazy // consumers: anchor side, negative side
      val pairs = embs.select(col("vec_id").as("anchor_id"))
        .crossJoin(broadcast(embs.agg(count(lit(1)).as("n"))))
        .select(col("anchor_id"), col("n"),
          explode(expr(s"sequence(1, $kNeg)")).as("j"))
        .select(col("anchor_id"), col("j"),
          expr("pmod(anchor_id + 1 + pmod(cast(conv(substr(md5(cast(" +
            "concat(anchor_id, '_', j) as binary)), 1, 15), 16, 10) as bigint), " +
            "n - 1), n)").as("neg_id"))
      pairs
        .join(qn.select(col("vec_id").as("anchor_id"), col("q").as("qa"),
          col("nrm").as("na")), "anchor_id")
        .join(qn.select(col("vec_id").as("neg_id"), col("q").as("qb"),
          col("nrm").as("nb")), "neg_id")
        .withColumn("dot",
          expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
        .select(col("anchor_id"), col("j"), col("neg_id"),
          when(col("na") === 0 || col("nb") === 0, lit(0.0)).otherwise(
            round(col("dot").cast("double") /
              sqrt(col("na").cast("double") * col("nb").cast("double")), 6))
            .as("cosine"))
        .withColumn("is_hard", (col("cosine") >= 0.2).cast("int"))
        .orderBy("anchor_id", "j")
    }),

    // IVFADC with RESIDUAL encoding (r10 verdict #2 — Jégou et al. 2011
    // §IV: production FAISS PQ-encodes r = v − cellCentroid(cell(v)),
    // which is where most of the recall at a fixed code budget comes
    // from; q157 is the raw-vector ablation at the SAME (cells=8,
    // nSub=4, k=8, nProbe=2) config, so the recall delta reads directly
    // off the two outputs — the sketch-next-to-exact theme). Residuals
    // are integer subtractions under the floor(v*1024) bridge, so the
    // cell training, the residual-codebook training, and the whole
    // probe/ADC/overlap chain stay bit-identical cross-engine — ONE
    // oracle query runs all three. Scale shape: one narrow kernel pass
    // per vector (cell + residual codes + per-query ADC via
    // per-(query, probed-cell) RESIDUAL lookup tables — nQ x nProbe x
    // nSub x k driver scalars, Jégou §V); two-level top-k sized by
    // topkShardsFor; the residual table rides its own localCheckpoint
    // for the training rounds.
    "q159_ivfadc_residual" -> ((s, d) => {
      val K = 5
      val nProbe = 2
      val embs = t(s, d, "embeddings")
      val (cellCents, _) = Similarity.kmeansTrainExact(
        embs, "vec_id", "embedding", k = 8, rounds = 3)
      val cellWrap = Array(cellCents)
      val qv = embs.select(col("vec_id").as("vid"),
          Similarity.quantized(col("embedding")).as("q"))
        .ckptLazy // consumers: residual build, query pick, scoring
      val nVecs = qv.count() // materializes the checkpoint; sizing input
      val resUdf = udf((q: Array[Long]) => {
        val cent = cellCents(Similarity.pqNearestCodes(q, cellWrap)(0))
        Array.tabulate(q.length)(i => q(i) - cent(i))
      })
      val rv = qv.select(col("vid"), resUdf(col("q")).as("q"))
        .ckptLazy // consumers: training init + per-round passes
      val (cents, _) = Similarity.pqTrainExactQuantized(rv, nSub = 4, k = 8, rounds = 3)
      val queryVecs = Similarity.auditQueryDraw(qv, 8 /* oracle: pinned */)
      def l2(a: Array[Long], b: Array[Long]): Long = {
        var s2 = 0L; var i = 0
        while (i < a.length) { val df0 = a(i) - b(i); s2 += df0 * df0; i += 1 }
        s2
      }
      // probed cells per query: 8x2 driver scalars, (dist, cell) order
      val probes: Map[Long, Set[Int]] = queryVecs.map { case (qid, qq) =>
        qid -> cellCents.indices.sortBy(c => (l2(qq, cellCents(c)), c))
          .take(nProbe).toSet
      }.toMap
      // RESIDUAL ADC lookup tables, one per (query, probed cell): the
      // query's residual wrt THAT cell against the residual codebooks
      val rluts: Map[(Long, Int), Array[Array[Long]]] =
        queryVecs.flatMap { case (qid, qq) =>
          probes(qid).map { cell =>
            val cent = cellCents(cell)
            val rq = Array.tabulate(qq.length)(i => qq(i) - cent(i))
            ((qid, cell), Similarity.adcLut(rq, cents))
          }
        }.toMap
      val nSub = cents.length
      val distUdf = udf((q: Array[Long]) => {
        val cell = Similarity.pqNearestCodes(q, cellWrap)(0)
        val cent = cellCents(cell)
        val res = Array.tabulate(q.length)(i => q(i) - cent(i))
        val codes = Similarity.pqNearestCodes(res, cents)
        val qa = q.toArray
        queryVecs.map { case (qid, qq) =>
          val adc = rluts.get((qid, cell)) match {
            case Some(lut) =>
              var a = 0L; var s2 = 0
              while (s2 < nSub) { a += lut(s2)(codes(s2)); s2 += 1 }
              a
            case None => 0L // non-candidate: filtered before any adc rank
          }
          (qid, adc, l2(qq, qa), rluts.contains((qid, cell)))
        }
      })
      val scored = qv.select(col("vid"), explode(distUdf(col("q"))).as("t"))
        .select(col("t._1").as("query_id"), col("vid"),
          col("t._2").as("adc"), col("t._3").as("ex"), col("t._4").as("cand"))
        .where(col("vid") =!= col("query_id"))
        .ckptLazy // consumers: adc ranks, exact ranks, n_cand
      val shards = Similarity.topkShardsFor(queryVecs.length.toLong, nVecs)
      def top5(df: DataFrame, dcol: String) =
        Similarity.twoLevelTopK(df, "query_id", "vid", dcol, K, shards)
      val nCand = scored.where(col("cand"))
        .groupBy("query_id").agg(count(lit(1)).as("n_cand"))
      top5(scored.where(col("cand")), "adc").withColumn("a", lit(1))
        .join(top5(scored, "ex").withColumn("e", lit(1)),
          Seq("query_id", "vid"), "full")
        .groupBy("query_id")
        .agg(sum(when(col("a") === 1 && col("e") === 1, 1L).otherwise(0L))
          .as("n_overlap"))
        .join(nCand, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          col("n_overlap"),
          (expr(s"cast(n_overlap * 1000000 as bigint) div $K").cast("double")
            / lit(1000000.0)).as("recall"))
        .orderBy("query_id")
    }),

    // WORDPIECE trainer (Schuster & Nakajima 2012; the HF-documented
    // likelihood variant) — the THIRD mainstream public tokenizer,
    // completing the family next to BPE (q87) and unigram-LM (q149):
    // same vocabulary-sized merge loop as BPE but the merge choice
    // maximizes count(xy)/(count(x)count(y)), with the real `##`
    // continuation alphabet (word-initial "a" and in-word "##a" are
    // different symbols; a merge strips the right part's marker). The
    // ratio ranks as the micro-scaled integer (n * 10^12) div (cx*cy)
    // — deterministic and engine-identical (DuckDB // == Spark div on
    // positives), so the 6 fixed rounds unroll as chained CTEs exactly
    // like q87. K collected decision scalars; corpus size never enters
    // the loop.
    "q160_wordpiece_train" -> ((s, d) => {
      val words = t(s, d, "documents")
        .select(explode(TF.tokens(col("text"))).as("word"))
      WordPieceTrainer.train(WordPieceTrainer.vocabulary(words),
          merges = 6, minCount = 0L)
        .orderBy("merge_rank")
    }),

    // the trained WordPiece APPLIED to the corpus (q160's q93/q152 —
    // every tokenizer family ships train + apply): per-doc word/piece
    // counts + fertility under GREEDY MAXIMAL MUNCH over the trained
    // inventory (the published WordPiece encode — NOT merge replay;
    // encodeGreedy, with the per-char OOV fallback for words the
    // vocabulary filters excluded). ONE corpus pass builds (doc, word,
    // tf); the training vocabulary derives from it (≤16-char words, the
    // q152 DP-unroll bound); the encode runs per DISTINCT word joined
    // back on the aggregated key (|V| kernel calls). The oracle unrolls
    // the capped training (wordpieceTrainCtes(6, 16)) then walks the
    // greedy match as 16 chained arg-max steps — COALESCE(longest
    // inventory match, 1 char) mirrors the kernel's fallback exactly.
    "q161_wordpiece_tokenize" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("word"))
        .where(length(col("word")).between(1, 16))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .ckptLazy // consumers: vocabulary, apply join
      val words = tf.groupBy("word").agg(sum("tf").as("wc"))
      val (_, encFinal) = WordPieceTrainer.trainWithVocab(
        WordPieceTrainer.vocabularyFromCounts(words, countCol = "wc"),
        merges = 6, minCount = 0L)
      val inv = WordPieceTrainer.inventory(encFinal)
      val npUdf = udf((w: String) =>
        WordPieceTrainer.encodeGreedy(w, inv).length.toLong)
      val wnp = words.select(col("word")).withColumn("np", npUdf(col("word")))
      tf.join(wnp, "word")
        .groupBy("doc_id")
        .agg(sum("tf").as("n_words"), sum(col("tf") * col("np")).as("n_pieces"))
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          (expr("cast(n_pieces * 1000000 as bigint) div n_words").cast("double")
            / lit(1000000.0)).as("fertility"))
        .orderBy("doc_id")
    }),

    // K-CENTER GREEDY CORESET (farthest-point sampling — Gonzalez 1985's
    // 2-approximation, the classic data-SELECTION primitive active
    // learning / dataset distillation builds on): seed at the md5-order
    // first vector (the q153 draw), then k-1 rounds of "pick the vector
    // farthest from the selected set" under exact integer L2. min_dist
    // at selection is the k-center coverage radius sequence (decreasing
    // by construction — the objective as data). Scale shape: one narrow
    // kernel pass per round (selected set is a <=K x D driver closure,
    // the BpeTrainer decision-scalar rule), argmax via TakeOrdered;
    // corpus never shuffles. Oracle unrolls the K-1 rounds (dist-to-set
    // as a two-level min over the growing selected CTE).
    "q162_kcenter_coreset" -> ((s, d) => {
      val K = 8
      val embs = t(s, d, "embeddings")
      val qv = embs.select(col("vec_id").as("vid"),
          Similarity.quantized(col("embedding")).as("q"))
        .ckptLazy // consumers: seed pick + K-1 round passes
      // r11 advice: degrade gracefully on a corpus with < K vectors (the
      // oracle's unrolled CTEs already do) — empty seed -> empty result,
      // and each round stops early when no unselected vector remains
      val seedRows = qv.select(col("vid"), col("q"),
          expr("cast(conv(substr(md5(cast(cast(vid as string) as binary)), 1, 15), 16, 10) as bigint)")
            .as("m"))
        .orderBy("m", "vid").limit(1).collect()
      import s.implicits._
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      if (seedRows.nonEmpty) {
        val seed = seedRows(0)
        var selected = Vector((seed.getLong(0), seed.getSeq[Long](1).toArray))
        picks += ((1, seed.getLong(0), 0L))
        var r = 2
        var exhausted = false
        while (r <= K && !exhausted) {
        val cents = selected.map(_._2).toArray
        val selIds = selected.map(_._1)
        val minDistUdf = udf((q: Array[Long]) => {
          var best = Long.MaxValue
          var c = 0
          while (c < cents.length) {
            val cent = cents(c)
            var s2 = 0L
            var i = 0
            while (i < cent.length) {
              val df0 = q(i) - cent(i); s2 += df0 * df0; i += 1
            }
            if (s2 < best) best = s2
            c += 1
          }
          best
        })
        val winRows = qv.where(!col("vid").isInCollection(selIds))
          .select(col("vid"), col("q"), minDistUdf(col("q")).as("dist"))
          .orderBy(col("dist").desc, col("vid")).limit(1).collect()
        if (winRows.isEmpty) exhausted = true
        else {
          val win = winRows(0)
          picks += ((r, win.getLong(0), win.getLong(2)))
          selected :+= ((win.getLong(0), win.getSeq[Long](1).toArray))
          r += 1
        }
      }
      }
      picks.toSeq.toDF("sel_rank", "vec_id", "min_dist")
        .orderBy("sel_rank")
    }),

    // BATCH PERCEPTRON langid classifier TRAINED IN THE ENGINE
    // (Rosenblatt's rule in its order-independent batch form: per round,
    // w += Σ_misclassified y·x — a DEFINED deterministic algorithm, so
    // the whole 3-round trajectory is integer-exact cross-engine; the
    // quality-scorer training the curation family consumes instead of
    // assuming). Features: the q74 portable md5 hash buckets (64 tf
    // buckets + a bias feature), labels y = ±1 on lang='en' from the
    // live table. Scale shape: ONE corpus-feature pass per round — the
    // margin is a doc_id-partitioned window (bounded by the ≤65
    // features per doc, the allowed window class) so no corpus-sized
    // join; the update is a partial-aggregated bucket groupBy; driver
    // traffic is 65 scalars per round (the BpeTrainer rule). Output:
    // the full (round, bucket, w) trajectory.
    "q163_perceptron_langid" -> ((s, d) => {
      val R = 3
      val docs = t(s, d, "documents")
      val labels = docs.select(col("doc_id"),
        (lit(2L) * (col("lang") === "en").cast("long") - 1L).as("y"))
      val tokFeats = docs
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .withColumn("bucket",
          expr("cast(conv(substr(md5(cast(token as binary)), 1, 8), 16, 10) as bigint) % 64"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("x"))
      val bias = docs.select(col("doc_id"), lit(64L).as("bucket"), lit(1L).as("x"))
      val feats = tokFeats.unionByName(bias)
        .join(labels, "doc_id")
        .ckptLazy // consumers: one margin+update pass per round
      var w = Array.fill(65)(0L)
      val hist = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      val wdoc = Window.partitionBy("doc_id")
      for (r <- 1 to R) {
        val wCol = array(w.toIndexedSeq.map(lit(_)): _*)
        val upd = feats
          .withColumn("m",
            sum(element_at(wCol, (col("bucket") + 1).cast("int")) * col("x"))
              .over(wdoc))
          .where(col("y") * col("m") <= 0)
          .groupBy("bucket").agg(sum(col("y") * col("x")).as("du"))
          .collect() // <=65 rows — aggregate-sized
        upd.foreach(row => w(row.getLong(0).toInt) += row.getLong(1))
        (0 until 65).foreach(b => hist += ((r, b.toLong, w(b))))
      }
      import s.implicits._
      hist.toSeq.toDF("round_no", "bucket", "w").orderBy("round_no", "bucket")
    }),

    // ANN-MINED HARD NEGATIVES (the production upgrade of q158's random
    // draws — contrastive trainers mine negatives NEAR the anchor, the
    // ANCE/DPR recipe): for every anchor, the 4 nearest DIFFERENT-label
    // vectors among its own IVF cell's members, ranked by PQ ADC — the
    // q153 cells + q154 codebooks composed into all-anchors mining.
    // Every distance is integer ADC, so the whole mine is bit-identical
    // cross-engine. Scale shape: the per-anchor LUT is the N x nSub x k
    // distance TABLE (pqd4 — computed once, vector-parallel, never a
    // driver closure); candidate volume is Σ|cell|² x nSub, bounded by
    // the cell-count sizing (more cells = smaller cells at scale); the
    // rank window partitions by anchor (N keys, cell-bounded
    // partitions — not a few-key window). Oracle pinned at cells=8.
    "q164_hard_negatives" -> ((s, d) =>
      Similarity.hardNegativesAdc(t(s, d, "embeddings"),
          "vec_id", "embedding", "label",
          kNeg = 4, cells = 8 /* oracle: pinned; default is ivfCellsFor */)
        .orderBy("anchor_id", "neg_rank")),

    // TEMPERATURE-FLATTENED multilingual sampling (the mT5/XLM-R
    // α=0.5 recipe, Xue et al. 2021: p_l ∝ n_l^α flattens head
    // languages so low-resource ones keep signal) — the q126 Neyman
    // float/integer discipline reused verbatim: the only float op is
    // ONE correctly-rounded IEEE sqrt of an exact integer, immediately
    // floor-micro-scaled (identical in both engines), then Hamilton
    // largest-remainder integerization of a 1000-doc budget (Σ n_alloc
    // == budget exactly). boost = allocated share vs raw share as a
    // micro-scaled integer ratio — >1 for tail languages, the recipe's
    // whole point, as data. Aggregate-sized end to end after one
    // partial-aggregated lang count.
    "q165_temperature_mixture" -> ((s, d) => {
      val budget = 1000L
      val st = t(s, d, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("w",
          floor(sqrt(col("n_docs").cast("double")) * lit(1000000.0)).cast("long"))
      val tot = st.agg(sum("w").as("tw"), sum("n_docs").as("nd"))
      val q0 = st.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"($budget * w) div tw"))
        .withColumn("rem", expr(s"($budget * w) % tw"))
      val extra = q0.agg((lit(budget) - sum("base")).as("extra"))
      q0.crossJoin(broadcast(extra))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("lang"))))
        .withColumn("n_alloc",
          col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
        // boost = (alloc/budget) / (n_docs/N) as micro-scaled integers:
        // alloc*N*1e6 div (budget*n_docs) — exact, no float ratio
        .withColumn("boost",
          (expr(s"(n_alloc * nd * 1000000) div ($budget * n_docs)").cast("double")
            / lit(1000000.0)))
        .select(col("lang"), col("n_docs"),
          (col("w").cast("double") / lit(1000000.0)).as("weight"),
          col("n_alloc"), col("boost"))
        .orderBy("lang")
    }),

    // DEDUP-METHOD AGREEMENT AUDIT — what near-dup detection ADDS over
    // exact hashing, as pair-level set algebra (the engine auditing its
    // own curation choices, the q140/q155 approximation-error-as-data
    // theme): partition the corpus once by content md5 (q21's clusters)
    // and once by MinHash-LSH components (q43's clusters), then count
    // same-cluster PAIRS in both / exact-only / minhash-only / neither
    // via comb2 sums over the three groupings — never materializing a
    // doc pair (the q150 combinatorial-count discipline; all counts are
    // exact integers, agreement is one micro-scaled nonneg division).
    // pairs_exact_only ~ 0 is the structural expectation (identical
    // text has Jaccard 1) — a nonzero value would expose banding
    // recall loss, which is why it is a COLUMN, not an assert. Scale:
    // three partial-aggregated groupBys over the joined (c1, c2) table
    // + four broadcast scalars; BIGINT-safe to ~4M docs (comb2 sums
    // then ride the q126 DECIMAL cast).
    "q166_dedup_agreement" -> ((s, d) => {
      val docsC = t(s, d, "documents").select("doc_id", "text")
        .ckptLazy // consumers: exact hash + minhash chain
      val exact = docsC.select(col("doc_id"), md5(col("text")).as("c1"))
      val pairs = Dedup.minhashLshPairs(docsC, "doc_id", "text",
        k = 64, bands = 16, shingleN = 3, threshold = 0.5,
        hotBucketCap = Int.MaxValue /* oracle: exact all-pairs banding */)
      val mh = docsC.select("doc_id")
        .join(Dedup.dupClusters(pairs), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("c2"))
      val joined = exact.join(mh, "doc_id")
        .ckptLazy // consumers: three comb2 aggregates + count
      def comb2(cols: Seq[String], as: String) = joined
        .groupBy(cols.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as(as))
      comb2(Seq("c1", "c2"), "pa")
        .crossJoin(broadcast(comb2(Seq("c1"), "pr")))
        .crossJoin(broadcast(comb2(Seq("c2"), "pc")))
        .crossJoin(broadcast(joined.agg(count(lit(1)).as("n_docs"))))
        .select(col("n_docs"), col("pa").as("pairs_both"),
          (col("pr") - col("pa")).as("pairs_exact_only"),
          (col("pc") - col("pa")).as("pairs_minhash_only"),
          (expr("n_docs * (n_docs - 1) div 2") - col("pr") - col("pc")
            + col("pa")).as("pairs_neither"),
          col("pr").as("pr0"), col("pc").as("pc0"))
        .withColumn("jaccard_agreement",
          when(col("pr0") + col("pc0") - col("pairs_both") === 0, lit(0.0))
            .otherwise(
              expr("cast(pairs_both * 1000000 as bigint) div (pr0 + pc0 - pairs_both)")
                .cast("double") / lit(1000000.0)))
        .drop("pr0", "pc0")
        .orderBy("n_docs")
    }),

    // AUDIO PERCEPTUAL NEAR-DUP (the spectral member q150's dHash family
    // lacked — r11/r12 verdict: byte/envelope identity cannot tell a
    // 440 Hz tone from a 3.5 kHz one): per payload, 4 integer
    // Haar-packet band energies per 64-byte frame
    // (Multimodal.byteBandEnergies — the SQL-reproducible oracle mode of
    // decodeAudioBandEnergies; real WAV/AIFF decode is spec-golden in
    // MultimodalAudioFpSpec), dHash-60 along the flattened (frame, band)
    // trajectory, then EXACTLY q150's combinatorial histogram: partial-
    // aggregate to (sim, count), hamming-0 mass = SUM(c*(c-1)/2),
    // cross-hash mass bands the DISTINCT signatures weighted c_a*c_b —
    // shuffles carry distinct-hash rows, never doc pairs. All hash
    // operands are exact integers (no sqrt/normalization in oracle
    // mode), so the > comparisons are engine-exact with no float
    // discipline at all. audioNearDupPairs stays the pair-emitting
    // operator surface with the CapAuto production cap.
    "q167_audio_fingerprint" -> ((s, d) => {
      val packed = Multimodal.packBinary(
        t(s, d, "documents").where(length(col("text")) > 0), "doc_id", "text")
      val hashUdf = udf((content: Array[Byte]) =>
        Multimodal.perceptualHash60(Multimodal.byteBandEnergies(content, 64)))
      val groups = packed.select(hashUdf(col("content")).as("sim"))
        .groupBy("sim").agg(count(lit(1)).as("c"))
        .ckptLazy // consumers: h0 mass, banding, two weight joins
      val h0 = groups.agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("n_pairs"))
        .select(lit(0).cast("int").as("hamming"), col("n_pairs"))
        .where(col("n_pairs") > 0)
      val crossH = Dedup.hammingBandPairs(
          groups.select(col("sim").as("doc"), col("sim")),
          maxHamming = 3, hotBucketCap = Int.MaxValue /* distinct sims: tiny */)
        .join(groups.select(col("sim").as("doc_a"), col("c").as("ca")), "doc_a")
        .join(groups.select(col("sim").as("doc_b"), col("c").as("cb")), "doc_b")
        .groupBy("hamming").agg(sum(col("ca") * col("cb")).as("n_pairs"))
      h0.unionByName(crossH).orderBy("hamming")
    }),

    // BYTE-LEVEL BPE TRAINING (GPT-2's production recipe — r12 verdict
    // #3: the tokenizer family trained on word-level pre-tokens only):
    // pre-tokenize with q40's GPT-2-style regex (contractions, letter
    // runs, digit runs, single marks — not whitespace), then train BPE
    // over the BYTE alphabet: each byte is a 2-hex-digit symbol
    // (BpeTrainer.encodeByteHex — the portable stand-in for GPT-2's
    // byte-to-unicode display table; char == byte under the fixture's
    // ASCII contract, the bridge q150 stands on), merges ride the SAME
    // sentinel replace machinery (symbols are whitespace-free hex, the
    // loop never looks inside one). Same scale shape as q87: ONE corpus
    // aggregation to the pre-token vocabulary, all 6 rounds
    // vocabulary-sized, one collected decision scalar per round. Oracle
    // unrolls the rounds as materialized chained CTEs (byteBpeTrainCtes).
    "q168_bpe_byte_train" -> ((s, d) => {
      val words = t(s, d, "documents")
        .select(explode(TF.bpeTokens(col("text"))).as("word"))
      val vocab = BpeTrainer.vocabulary(words)
      BpeTrainer.trainEncoded(
          vocab.select(BpeTrainer.encodeByteHex(col("word")).as("enc"), col("freq")),
          merges = 6, minCount = 0L)._1
        .orderBy("merge_rank")
    }),

    // the trained BYTE-level tokenizer APPLIED per language (q168's
    // q117: fertility under the byte vocabulary NEXT TO q117's
    // word-level fertility — the comparison production tokenizer work
    // actually reads): one corpus pass builds (lang, pretoken, tf); the
    // global vocabulary derives from it (no second scan); the 6 merges
    // replay as literal sentinel replaces over the DISTINCT pre-token
    // table (|V| chains, never per corpus token) joined back on the
    // aggregated key. Pre-tokens the trainer never saw (single chars)
    // fall back to their byte count (== length under ASCII). Fertility
    // is the micro-scaled integer division.
    "q169_bpe_byte_tokenize" -> ((s, d) => {
      val lw = t(s, d, "documents")
        .select(col("lang"), explode(TF.bpeTokens(col("text"))).as("word"))
        .groupBy("lang", "word").agg(count(lit(1)).as("tf"))
        .ckptLazy // two consumers: vocabulary, apply join
      val vocab = BpeTrainer.vocabularyFromCounts(lw, "word", "tf")
      val merges = BpeTrainer.trainEncoded(
          vocab.select(BpeTrainer.encodeByteHex(col("word")).as("enc"), col("freq")),
          merges = 6, minCount = 0L)._1
        .orderBy("merge_rank").collect().map(_.getString(1)).toSeq
      val encWords = BpeTrainer.applyMerges(
          vocab.select("word"), "word", merges, BpeTrainer.encodeByteHex)
        .select(col("word"), BpeTrainer.symbolCount(col("enc")).as("n_sym"))
      lw.join(encWords, Seq("word"), "left")
        .groupBy("lang")
        .agg(sum("tf").as("n_pretokens"),
          sum(col("tf") *
            coalesce(col("n_sym"), length(col("word")).cast("long")))
            .as("n_byte_bpe_tokens"))
        .withColumn("fertility",
          expr("cast(n_byte_bpe_tokens * 1000000 as bigint) div n_pretokens")
            .cast("double") / lit(1000000.0))
        .orderBy("lang")
    }),

    // PER-DOC CURATION REJECTION LEDGER (r12 verdict #4: q97 gives
    // stage totals, not "why was doc X dropped"): every rejected doc
    // attributed to its FIRST failing stage of q97's exact funnel —
    // exact-dup (detail = the keeper id), near-dup non-canonical
    // (detail = the cluster representative), quality floor, Gopher
    // (detail = the first failing RULE name, same rule order as q107).
    // Same stage definitions as q97 verbatim (min-id hash keeper,
    // cluster_id==doc_id canonical, round(q,6)>=0.8, rule conjunction);
    // the oracle reuses the shared curationCtes so the two queries
    // cannot drift. Scale: one corpus projection with the fused Gopher
    // kernel (first-fail computed BEFORE any join so text never
    // shuffles), one aggregate-keyed join per dedup signal — linear,
    // no new quadratics; stage names via a literal-map element_at
    // (codegen, no UDF).
    "q170_rejection_ledger" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val rules = TF.gopherRules(col("text"))
      val base = docs.select(col("doc_id"),
          TF.qualityScore(col("text")).as("q"),
          md5(col("text")).as("content_hash"),
          coalesce(rules.map { case (n, c) => when(!c, lit(n)) }
            :+ lit(null).cast("string"): _*).as("gfail"))
        .ckptLazy // consumers: keeper agg + ledger join
      val keepExact = base.groupBy("content_hash").agg(min("doc_id").as("keep_id"))
      val clusters = Dedup.dupClusters(
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 64, bands = 16, shingleN = 3, threshold = 0.5,
          hotBucketCap = Int.MaxValue /* oracle: exact all-pairs banding */))
      base.join(keepExact, "content_hash")
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("stage_rank",
          when(col("doc_id") =!= col("keep_id"), 2)
            .when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"), 3)
            .when(round(col("q"), 6) < 0.8, 4)
            .when(col("gfail").isNotNull, 5))
        .where(col("stage_rank").isNotNull)
        .select(col("doc_id"),
          col("stage_rank").cast("int").as("stage_rank"),
          element_at(
            map(lit(2), lit("exact_dup"), lit(3), lit("near_dup"),
              lit(4), lit("quality"), lit(5), lit("gopher")),
            col("stage_rank")).as("stage"),
          when(col("stage_rank") === 2, col("keep_id").cast("string"))
            .when(col("stage_rank") === 3, col("cluster_id").cast("string"))
            .when(col("stage_rank") === 5, col("gfail")).as("detail"))
        .orderBy("doc_id")
    }),

    // GRAPH-ANN BRANCH (r12 verdict #6: the ANN stack covered the
    // quantization family only): NN-descent-lite K-NN graph build —
    // md5-offset init draws (q158's recipe), then fixed rounds of
    // "score the undirected 2-hop closure, keep the K best per node"
    // (Dong et al. 2011). Integer-exact end to end (quantized vectors,
    // BIGINT squared L2, (d2, neighbor) ties), so the whole iterative
    // build unrolls in DuckDB as chained MATERIALIZED CTEs (the
    // q78/q87/q153 discipline applied to a graph algorithm). Candidate
    // volume is (2K)^2 per node per round — linear in the corpus,
    // never all-pairs; the top-K window partitions by node id (N keys).
    "q171_nsw_graph" -> ((s, d) =>
      NswGraph.nswBuild(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 8, rounds = 3, seeds = 8)
        .orderBy("vec_id", "nn_rank")),

    // the graph's RECALL measured against exact search (the q140/q156
    // approximation-error-as-data theme), as a CURVE over refinement
    // rounds (r13 verdict #4: one build, four measurements — each
    // round's graph is the next one's input, so reading recall at
    // rounds 0..3 costs the same single build q171 runs, instead of a
    // full rebuild per point): for the q29 anchor set, the fraction of
    // the true integer-L2 top-4 present in round r's neighbor list.
    // Exact side is anchor-sized (8 x n broadcast join, the audit-scale
    // pattern), recall is the micro-scaled nonneg division.
    "q172_nsw_recall" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      val gs = NswGraph.nswBuildRounds(embs, "vec_id", "embedding",
        k = 8, rounds = 3, seeds = 8)
      val qv = embs.select(col("vec_id"), Similarity.quantized(col("embedding")).as("q"))
        .ckptLazy // consumers: anchor side + corpus side
      val anchors = qv.where(col("vec_id") < 8)
        .select(col("vec_id").as("a"), col("q").as("qa"))
      val ex4 = qv.select(col("vec_id").as("b"), col("q").as("qb"))
        .join(broadcast(anchors), col("b") =!= col("a"))
        .select(col("a"), col("b"), NswGraph.d2(col("qa"), col("qb")).as("d2"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("a").orderBy(col("d2"), col("b"))))
        .where(col("rk") <= 4)
        .select("a", "b")
        .ckptLazy // consumers: one semi-join per round
      // anchor-sized relations on every side (≤ 8·k rows) — broadcast
      // explicitly: the checkpointed frames have no stats, so the
      // planner's guess sort-merges 16 tiny joins (r14 SMJ sweep)
      gs.zipWithIndex.map { case (g, r) =>
        val edges = g.where(col("a") < 8).select("a", "b")
        val hit = ex4.join(broadcast(edges), Seq("a", "b"), "left_semi")
          .groupBy("a").agg(count(lit(1)).as("h"))
        anchors.select("a").join(broadcast(hit), Seq("a"), "left")
          .select(lit(r).as("round"), col("a").as("vec_id"),
            coalesce(col("h"), lit(0L)).as("n_hits"),
            (expr("cast(coalesce(h, 0L) * 1000000 div 4 as bigint)")
              .cast("double") / lit(1000000.0)).as("recall"))
      }.reduce(_ unionByName _).orderBy("round", "vec_id")
    }),

    // CLUSTER-BALANCED SUBSAMPLING (the embedding-space twin of q88's
    // language mixture — the DoReMi/cluster-balancing move production
    // pipelines run when the skew is TOPICAL, not linguistic): k-means
    // cells over the embedded corpus (q153's integer trainer verbatim,
    // one extra assignment pass against the FINAL centroids), then an
    // equal per-cell token budget (25% of embedded token mass split
    // evenly — head topics truncate, tail topics survive whole) taken
    // as the deterministic md5-order prefix via the SAME two-level
    // sharded machinery as q59/q88 (weightedBudgetPrefixBy — the
    // stratum key is now a parameter; the core never cared what it
    // means). Output is the aggregate-sized per-cell report. All
    // integer: budgets are exact divisions, the kept set is exact.
    "q173_cluster_balanced_sample" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      val (cents, _) = Similarity.kmeansTrainExact(
        embs, "vec_id", "embedding", k = 8, rounds = 3)
      val cellWrap = Array(cents)
      val cellUdf = udf((q: Array[Long]) => Similarity.pqNearestCodes(q, cellWrap)(0))
      val cells = embs.select(col("vec_id").as("doc_id"),
        cellUdf(Similarity.quantized(col("embedding"))).as("cell"))
      val docsWithCell = t(s, d, "documents")
        .join(cells, "doc_id") // the embedded subset is the sampling frame
        .select(col("doc_id"), col("cell"), col("text"))
        .ckptLazy // consumers: budget aggregate + prefix pass
      val budgets = docsWithCell.select("cell").distinct()
        .crossJoin(broadcast(docsWithCell
          .agg(sum(TF.bpeTokenCount(col("text")).cast("long")).as("tt"))))
        .select(col("cell"), expr("tt div 32").as("budget")) // 25% / 8 cells
      CorpusSharding.weightedBudgetPrefixBy(docsWithCell,
          TF.bpeTokenCount(col("text")).cast("long"), prefixHexChars = 1,
          budgets, strataCol = "cell")
        .groupBy("cell")
        .agg(max("budget").as("budget"), count(lit(1)).as("n_docs_kept"),
          sum("toks").as("n_tokens_kept"))
        .orderBy("cell")
    }),

    // INTERPOLATED KNESER-NEY bigram smoothing (Kneser & Ney 1995;
    // Chen & Goodman 1998's interpolated form) — the principled LM
    // smoothing next to q111's Stupid Backoff approximation and q121's
    // Good-Turing counts: P(w2|w1) = max(c-D,0)/ctx + D·n1p(w1)/ctx ·
    // ncont(w2)/ntypes, with the continuation probability counting
    // DISTINCT CONTEXTS (the insight that "Francisco" is frequent but
    // follows only "San"). With D = 3/4 the whole expression is one
    // exact rational: p · (4·ctx·ntypes) = max(4c-3,0)·ntypes +
    // 3·n1p(w1)·ncont(w2) — integer numerator over integer
    // denominator, micro-scaled once at the emit (no float anywhere
    // before the final division). Scale shape: all aggregations are
    // partial-aggregated groupBys over bigram TYPES (never a token
    // window); the joins are type-level on aggregated keys; ntypes is
    // one broadcast scalar. BIGINT headroom: numerator <=
    // 4·c_max·ntypes·1e6 ~ 1e16 at sf0.1, guarded by the same
    // micro-scale discipline as q160.
    "q174_kneser_ney" -> ((s, d) => {
      val bc = t(s, d, "documents")
        .withColumn("tk", TF.tokens(col("text")))
        .select(explode(expr(
          "zip_with(slice(tk, 1, size(tk)-1), slice(tk, 2, size(tk)-1)," +
            " (a, b) -> concat(a, ' ', b))")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c"))
        .withColumn("w1", expr("split_part(bigram, ' ', 1)"))
        .withColumn("w2", expr("split_part(bigram, ' ', 2)"))
        .ckptLazy // consumers: ctx, cont, ntypes, scoring
      val ctx = bc.groupBy("w1").agg(sum("c").as("ctx"), count(lit(1)).as("n1p"))
      val cont = bc.groupBy("w2").agg(count(lit(1)).as("ncont"))
      val ntypes = bc.agg(count(lit(1)).as("ntypes"))
      bc.where(col("c") >= 5)
        .join(ctx, "w1").join(cont, "w2")
        .crossJoin(broadcast(ntypes))
        .withColumn("p_kn", expr(
          "cast(((greatest(4 * c - 3, 0) * ntypes + 3 * n1p * ncont) * 1000000) " +
            "div (4 * ctx * ntypes) as bigint)").cast("double") / lit(1000000.0))
        .select("w1", "w2", "c", "p_kn")
        .orderBy("w1", "w2")
    }),

    // BANNED-PHRASE BLOCKLIST SCAN (the C4/CCNet curation primitive
    // q106's PII regexes don't cover — literal phrase lists): one
    // Aho-Corasick pass matches EVERY pattern simultaneously in
    // O(|text| + matches), independent of blocklist size — per-pattern
    // contains() is O(|text|·|patterns|) and falls over exactly where
    // a production blocklist (10k+ phrases) gets serious. The automaton
    // builds once on the driver and rides the kernel closure (the r11
    // constant-table rule); the scan is a narrow stateless projection.
    // Match semantics are ALL positions (overlapping included), which
    // is the definition an independent engine reproduces exactly — the
    // oracle enumerates every start position. Output: per (doc,
    // pattern) hit counts, hits > 0 only.
    "q175_blocklist" -> ((s, d) =>
      blocklistHits(t(s, d, "documents").select(col("doc_id"), col("text")))
        .orderBy("doc_id", "pattern")),

    // OPTIMAL SEQUENCE-LENGTH BUCKETING — the OPTIMIZER behind q110's
    // padding-waste report: pick 4 bucket boundaries (3 free + the max)
    // minimizing total padded tokens when every doc pads up to its
    // bucket top (the batch-inference / packing-efficiency question).
    // Exhaustive argmin over a SIZED candidate grid: boundaries are
    // multiples of step = ceil(maxLen/64), so candidates <= 64 and the
    // triple enumeration is <= C(64,3) ~ 42k rows REGARDLESS of corpus
    // size — the length histogram is the only corpus-derived input and
    // it is aggregate-sized (distinct lengths). All costs integer;
    // winner tie-break (pad, b1, b2, b3); TakeOrdered, never a global
    // sort. Output: the winning buckets' per-bucket stats.
    "q176_length_buckets" -> ((s, d) => {
      val hist = t(s, d, "documents")
        .select(TF.tokenCount(col("text")).cast("long").as("len"))
        .groupBy("len").agg(count(lit(1)).as("n"))
        .ckptLazy // consumers: grid, max, cost join, final stats
      val mx = hist.agg(max("len").as("mx"))
      val cand = hist.crossJoin(broadcast(mx))
        .select(col("len"), expr("(mx + 63) div 64").as("step"))
        .select(expr("((len + step - 1) div step) * step").as("b"))
        .distinct()
        .ckptLazy // consumers: 3 triple sides + max boundary
      val bmax = cand.agg(max("b").as("b4"))
      val triples = cand.select(col("b").as("b1"))
        .join(cand.select(col("b").as("b2")), col("b1") < col("b2"))
        .join(cand.select(col("b").as("b3")), col("b2") < col("b3"))
        .crossJoin(broadcast(bmax)).where(col("b3") < col("b4"))
      val top = "CASE WHEN len <= b1 THEN b1 WHEN len <= b2 THEN b2 " +
        "WHEN len <= b3 THEN b3 ELSE b4 END"
      val win = triples.join(broadcast(hist), lit(true))
        .groupBy("b1", "b2", "b3", "b4")
        .agg(sum(expr(s"n * ($top - len)")).as("pad"))
        .orderBy(col("pad"), col("b1"), col("b2"), col("b3")).limit(1)
      hist.crossJoin(broadcast(win))
        .withColumn("boundary", expr(top))
        .groupBy("boundary")
        .agg(sum("n").as("n_docs"), sum(expr("n * len")).as("n_tokens"),
          sum(expr(s"n * (boundary - len)")).as("n_pad_tokens"))
        .withColumn("fill",
          expr("cast((n_tokens * 1000000) div (n_tokens + n_pad_tokens) as bigint)")
            .cast("double") / lit(1000000.0))
        .orderBy("boundary")
    }),

    // THEIL-SEN ROBUST TREND (Theil 1950 / Sen 1968 — the
    // median-of-pairwise-slopes estimator, the robust member next to
    // q95's OLS exactly as q94's MAD sits next to variance; breakdown
    // point 29% vs OLS's 0): per event_type, the lower median of all
    // C(n_days, 2) pairwise daily-volume slopes. Slopes are quantized
    // to micro-scaled integers ((dy*1e6) div dx) so the median
    // selection is a total integer order both engines share — Spark
    // div truncates toward zero while DuckDB // floors, so the ORACLE
    // sign-splits negative numerators (the q153 centroid-update rule).
    // Scale: the pair enumeration is days² per type — aggregate-sized
    // by construction (the daily rollup is the only corpus-sized
    // aggregation); the few-key median window runs over those
    // aggregate-sized pairs (the allowed window class).
    "q177_theil_sen" -> ((s, d) => {
      val dc = t(s, d, "events")
        .select(col("event_type"), expr("ts div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
        .ckptLazy // consumers: both pair sides + n_days
      // the day-count relation is aggregate-sized (days × types — bounded
      // by corpus AGE, not volume): broadcast the pair side explicitly
      // (r14 SMJ sweep — no stats on the checkpointed histogram)
      val pairs = dc.select(col("event_type"), col("day").as("d1"), col("c").as("c1"))
        .join(broadcast(
          dc.select(col("event_type"), col("day").as("d2"), col("c").as("c2"))),
          Seq("event_type"))
        .where(col("d1") < col("d2"))
        .withColumn("slope_q", expr("((c2 - c1) * 1000000) div (d2 - d1)"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("slope_q"), col("d1"), col("d2"))
      pairs
        .withColumn("rn", row_number().over(w))
        .join(broadcast(pairs.groupBy("event_type").agg(count(lit(1)).as("np"))),
          "event_type")
        .where(col("rn") === expr("(np + 1) div 2"))
        .join(dc.groupBy("event_type").agg(count(lit(1)).as("n_days")), "event_type")
        .select(col("event_type"), col("n_days"), col("np").as("n_pairs"),
          (col("slope_q").cast("double") / lit(1000000.0)).as("slope_per_day"))
        .orderBy("event_type")
    }),

    // MULTI-PATTERN SEQUENCE DETECTION over event streams (the CEP
    // question of PAPERS.md's SIGMOD'19 retrieval — "which of these K
    // behavioral patterns fire, where?" — generalizing q70's single
    // funnel): each user's event history becomes one ordered
    // type-symbol string (first letters are distinct across the 5
    // types; order (ts, event_id) is total), and ALL K patterns match
    // in ONE Aho-Corasick pass per user — adding patterns costs
    // nothing, the property that separates CEP engines from per-pattern
    // scans. Consecutive-symbol semantics (an intervening event breaks
    // a pattern — that is the point: "vcp" means view->click->purchase
    // with nothing between). Scale: per-user sequences are bounded by
    // per-user activity (sessionize first where a user's history is
    // unbounded — q50's splitter composes upstream); the groupBy is the
    // only corpus-sized aggregation; the automaton rides the closure.
    "q178_multi_pattern" -> ((s, d) => {
      val patterns = Seq("vcp", "ee", "sv", "cc", "vvv")
      val ac = graft.functions.AhoCorasick(patterns)
      val pArr = patterns.toArray
      val seqs = t(s, d, "events")
        .select(col("user_id"), struct(col("ts"), col("event_id"),
          expr("substring(event_type, 1, 1)").as("ch")).as("e"))
        .groupBy("user_id")
        .agg(array_join(transform(array_sort(collect_list(col("e"))),
          x => x.getField("ch")), "").as("seq"))
      val hitsUdf = udf((seqStr: String) => {
        val c = ac.countMatches(seqStr)
        c.indices.collect { case i if c(i) > 0 => (pArr(i), c(i)) }
      })
      seqs.select(explode(hitsUdf(col("seq"))).as("h"))
        .select(col("h._1").as("pattern"), col("h._2").as("hits"))
        .groupBy("pattern")
        .agg(count(lit(1)).as("n_users"), sum("hits").as("n_hits"))
        .orderBy("pattern")
    }),

    // ATTRIBUTION-LATENCY EXACT PERCENTILES — the operations question
    // behind q70's funnel ("HOW LONG from click to purchase?", the
    // latency-SLO read): each purchase as-of-joins its user's most
    // recent prior click (q49's operator verbatim), and per purchase
    // day the p50/p90/p99 latency comes from the EXACT value-histogram
    // inverse-CDF (q119's selection — never a sort of raw latencies,
    // never approx_percentile where the oracle needs exactness). Both
    // windows partition by day over the aggregate-sized (day, latency)
    // histogram. Oracle uses DuckDB's NATIVE ASOF JOIN — an independent
    // implementation of the same at-or-before semantics (q49's
    // cross-engine check inherited).
    "q179_latency_percentiles" -> ((s, d) => {
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), tsMicros.as("us"))
      val probes = e.where(col("event_type") === "purchase")
        .select("user_id", "event_id", "us")
      val refs = e.where(col("event_type") === "click")
        .groupBy("user_id", "us").agg(max("event_id").as("cid"))
      val lat = AsofJoin.asofJoin(probes, refs, "user_id", "us", Seq("cid"))
        .where(col("ref_cid").isNotNull)
        .select(expr("us div 86400000000").as("day"),
          (col("us") - col("ref_us")).as("lat"))
      val cnt = lat.groupBy("day", "lat").agg(count(lit(1)).as("c"))
      val cum = cnt
        .withColumn("cum", sum("c").over(Window.partitionBy("day").orderBy("lat")))
        .withColumn("tot", sum("c").over(Window.partitionBy("day")))
      cum.withColumn("p", explode(array(lit(50), lit(90), lit(99))))
        .where(col("cum") * 100 >= col("p") * col("tot"))
        .groupBy("day", "p").agg(min("lat").as("latency_us"))
        .select(col("day"), col("p").cast("int").as("pct"), col("latency_us"))
        .orderBy("day", "pct")
    }),

    // QUALITY-HEURISTIC CALIBRATION (the reliability-diagram read on
    // the engine's own curation signals — the q140/q166
    // approximation-error-as-data theme pointed at q24 itself): bucket
    // the corpus into quality-score DECILES (q64's ntile over the
    // rounded score — round BEFORE ranking, the determinism rule) and
    // report, per decile, the Gopher pass rate and the exact-duplicate
    // rate. A well-calibrated heuristic shows both rates monotone in
    // the decile; where they are flat the score adds nothing over the
    // rules — measured, not assumed. All rates are micro-scaled
    // nonneg integer divisions; the ntile window orders the whole
    // corpus but ON THE AGGREGATED (score, hash-keep, gopher)
    // projection — and deciles of a GLOBAL order are the one window
    // the two-level trick cannot replace without changing semantics;
    // the row is narrow (4 ints) so the sort is the cheap kind.
    "q180_quality_calibration" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.select(col("doc_id"),
          round(TF.qualityScore(col("text")), 6).as("q"),
          md5(col("text")).as("content_hash"),
          TF.gopherKeep(col("text")).cast("long").as("gk"))
        .ckptLazy // consumers: keeper agg + decile pass
      val keepExact = base.groupBy("content_hash").agg(min("doc_id").as("keep_id"))
      base.join(keepExact, "content_hash")
        .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("long"))
        .withColumn("decile",
          ntile(10).over(Window.orderBy(col("q"), col("doc_id"))))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          min("q").as("q_min"), max("q").as("q_max"),
          sum("gk").as("n_gopher_pass"), sum("is_dup").as("n_dups"))
        .withColumn("gopher_rate",
          expr("cast((n_gopher_pass * 1000000) div n_docs as bigint)")
            .cast("double") / lit(1000000.0))
        .withColumn("dup_rate",
          expr("cast((n_dups * 1000000) div n_docs as bigint)")
            .cast("double") / lit(1000000.0))
        .select(col("decile").cast("int").as("decile"), col("n_docs"),
          col("q_min"), col("q_max"), col("gopher_rate"), col("dup_rate"))
        .orderBy("decile")
    }),

    // QUALITY-HEURISTIC ROC-AUC (Mann-Whitney U; Hanley & McNeil 1982) —
    // the threshold-free discrimination audit next to q180's calibration
    // read: does q24's quality score RANK Gopher-passing docs above
    // failing ones at all, per source? AUC = P(score_pos > score_neg) +
    // P(tie)/2, counted COMBINATORIALLY over the distinct-score
    // histogram (the q150 pair-counting rule): positives at each
    // distinct value pair with the cumulative negatives strictly below
    // it, ties pair within the value — doc pairs never materialize. The
    // cumulative window orders the HISTOGRAM, whose key count is bounded
    // by round-6 granularity on the score's [0,1] range (<= 1e6+1 rows
    // per source at ANY corpus size) — the aggregate-sized window class,
    // never a corpus window. Pair counts overflow BIGINT at web scale
    // (P*N > 2^63 once both classes pass ~3e9 docs), so the numerator
    // rides DECIMAL(38,0) in Spark / HUGEINT in DuckDB — exact integer
    // arithmetic at any SF, micro-scaled once at the emit.
    "q181_quality_auc" -> ((s, d) => {
      val hist = t(s, d, "documents")
        .select(col("source"),
          round(TF.qualityScore(col("text")), 6).as("q"),
          TF.gopherKeep(col("text")).cast("long").as("gk"))
        .groupBy("source", "q")
        .agg(sum("gk").as("p"), (count(lit(1)) - sum("gk")).as("nneg"))
      val w = Window.partitionBy("source").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, -1)
      hist.withColumn("n_less", coalesce(sum("nneg").over(w), lit(0L)))
        .groupBy("source")
        .agg(sum("p").as("n_pos"), sum("nneg").as("n_neg"),
          sum(expr("cast(p as decimal(38,0)) * (2 * n_less + nneg)")).as("num2"))
        .where(col("n_pos") > 0 && col("n_neg") > 0)
        .withColumn("auc",
          expr("cast((num2 * 1000000) div (2 * cast(n_pos as decimal(38,0)) * n_neg) as bigint)")
            .cast("double") / lit(1000000.0))
        .select("source", "n_pos", "n_neg", "auc")
        .orderBy("source")
    }),

    // EDIT-DISTANCE-VERIFIED NEAR-DUP PAIRS — the precision pass on the
    // sketch: MinHash candidates promise shingle-SET overlap, Levenshtein
    // PROVES character-level closeness (a reordered-paragraph pair can
    // share every shingle yet sit far in edit distance — the distinction
    // a merge/takedown audit cares about). Candidates are q26's banded
    // LSH pairs (never all-pairs); each surviving pair runs ONE banded
    // DP: Spark's codegen'd levenshtein(a, b, cap) stops at O(len x cap)
    // and returns -1 past the cap, so a 100 TB corpus pays the quadratic
    // DP only on sketch-passing pairs and only within the 256-edit band.
    // The relative cut is a micro-scaled integer division compared as an
    // INTEGER (never a float-ratio threshold).
    "q182_edit_verified_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .ckptLazy // consumers: LSH pairs + two text joins
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      // r16 scale fix (guide §4.4 duplication + §2.5 parallelism,
      // measured on a 10x near-dup-rich fixture: 100.8 s -> see
      // OPTIMIZATION_r16.md): (a) the levenshtein used to sit in a
      // withColumn consumed by BOTH the pushed-down Filter and the
      // output Project — the O(len·cap) kernel ran TWICE per pair;
      // (b) AQE coalesces the byte-light pair shuffle to ~2 partitions,
      // serializing the kernel regardless of cores. Now ONE explicitly
      // spread projection computes dist exactly once behind a lazy
      // checkpoint boundary (the only consumer is the final
      // filter+project, which reads integers). Kept set and values are
      // identical: ml IS greatest(length(ta), length(tb)).
      val withDist = pairs.select(col("doc_a"), col("doc_b"))
        .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
        .repartition(s.sparkContext.defaultParallelism, col("doc_a"), col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ta"), col("tb"), 256).as("dist"),
          greatest(length(col("ta")), length(col("tb"))).as("ml"))
        .ckptLazy // single evaluation boundary for the kernel column
      withDist
        .where(col("dist") >= 0 &&
          expr("(dist * 1000000) div ml") <= 200000L)
        .select(col("doc_a"), col("doc_b"), col("dist").cast("int").as("dist"),
          (expr("cast((dist * 1000000) div ml as bigint)")
            .cast("double") / lit(1000000.0)).as("rel_dist"))
        .orderBy("doc_a", "doc_b")
    }),

    // KNESER-NEY PERPLEXITY FILTER (the CCNet move, Wenzek et al. 2020:
    // score every document by a held-in LM's cross-entropy and let the
    // tails surface junk and boilerplate) — the principled-smoothing twin
    // of q111's Stupid Backoff scorer, reusing q174's exact-rational
    // D=3/4 interpolated estimate. Train on the doc_id%97 split, score
    // the rest; every per-bigram probability is an exact BIGINT rational:
    // seen context -> (max(4c-3,0)*ntypes + 3*n1p*ncont) / (4*ctx*ntypes)
    // (the interpolation term alone when the bigram is unseen), unseen
    // context -> the continuation unigram ncont/ntypes, and a 1-numerator
    // floor where even ncont is zero — so each cost term is
    // round(ln(den/num), 6) of a ratio of exact integers (the q149
    // ln-parity discipline), summed EXACTLY as DECIMAL(18,6) (the q112
    // no-float-order rule) and divided once, micro-scaled, at the emit.
    // Scoring is one bigram-TYPE join (model side unique per key, AQE
    // skew-tolerant); per-doc tf aggregates before the join so hot
    // bigrams cross the shuffle once per doc, not once per instance.
    "q183_kn_perplexity" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val bg = docs.withColumn("tk", TF.tokens(col("text")))
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(tk, 1, size(tk)-1), slice(tk, 2, size(tk)-1)," +
            " (a, b) -> concat(a, ' ', b))")).as("bigram"))
        .ckptLazy // consumers: train counts, scoring tf
      val bc = bg.where(col("doc_id") % 97 === 0)
        .groupBy("bigram").agg(count(lit(1)).as("c"))
        .withColumn("w1", expr("split_part(bigram, ' ', 1)"))
        .withColumn("w2", expr("split_part(bigram, ' ', 2)"))
        .ckptLazy // consumers: ctx, cont, ntypes, score join
      val ctx = bc.groupBy("w1").agg(sum("c").as("ctx"), count(lit(1)).as("n1p"))
      val cont = bc.groupBy("w2").agg(count(lit(1)).as("ncont"))
      val nt = bc.agg(count(lit(1)).as("ntypes"))
      val bt = bg.where(col("doc_id") % 97 =!= 0)
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("tf"))
        .withColumn("w1", expr("split_part(bigram, ' ', 1)"))
        .withColumn("w2", expr("split_part(bigram, ' ', 2)"))
      bt.join(bc.select("bigram", "c"), Seq("bigram"), "left")
        .join(ctx, Seq("w1"), "left")
        .join(cont, Seq("w2"), "left")
        .crossJoin(broadcast(nt))
        .withColumn("num", greatest(lit(1L), when(col("ctx").isNotNull,
            greatest(coalesce(col("c"), lit(0L)) * 4 - 3, lit(0L)) * col("ntypes")
              + lit(3L) * col("n1p") * coalesce(col("ncont"), lit(0L)))
          .otherwise(coalesce(col("ncont"), lit(0L)))))
        .withColumn("den", when(col("ctx").isNotNull,
            lit(4L) * col("ctx") * col("ntypes")).otherwise(col("ntypes")))
        .withColumn("term",
          round(log(col("den").cast("double") / col("num")), 6)
            .cast(DecimalType(18, 6)))
        .groupBy("doc_id")
        .agg(sum(col("term") * col("tf")).as("sdec"), sum("tf").as("n_bigrams"),
          sum(when(col("c").isNull, col("tf")).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
          (expr("cast(sdec * 1000000 as bigint) div n_bigrams").cast("double")
            / lit(1000000.0)).as("avg_cost"))
        .orderBy("doc_id")
    }),

    // SPLIT-BALANCE CHI-SQUARE (Pearson 1900 over the q46 md5 split ×
    // source contingency table — "did the hash split accidentally skew a
    // source?", the independence audit next to q84's mass-KL and q122's
    // within-source KS): per-cell expected count and chi-square
    // contribution as EXACT integer recipes — e_micro = (ns*nc*1e6) div N
    // and contrib_micro = (o*1e6 - e_micro)^2 div e_micro — so the
    // statistic is bit-identical cross-engine with no float boundary
    // (the truncating recipe IS the contract, the q153 rule). The
    // contingency table is aggregate-sized by construction (splits ×
    // sources), so every window/join below the first groupBy is over
    // a <=100-row relation; pair products ride DECIMAL(38,0)/HUGEINT
    // (ns*nc crosses 2^63 once the corpus passes ~3e9 docs).
    "q184_chi2_split_balance" -> ((s, d) => {
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val cells = t(s, d, "documents")
        .select(when(h < "0d", "test").when(h < "1a", "val")
          .otherwise("train").as("split"), col("source"))
        .groupBy("split", "source").agg(count(lit(1)).as("o"))
        .ckptLazy // consumers: row totals, col totals, N, cells
      val ns = cells.groupBy("split").agg(sum("o").as("ns"))
      val nc = cells.groupBy("source").agg(sum("o").as("nc"))
      val nt = cells.agg(sum("o").as("n_total"))
      cells.join(broadcast(ns), "split").join(broadcast(nc), "source")
        .crossJoin(broadcast(nt))
        .withColumn("em", expr(
          "cast((cast(ns as decimal(38,0)) * nc * 1000000) div n_total as bigint)"))
        .withColumn("diffm", expr("o * 1000000 - em"))
        .withColumn("contrib_micro", expr(
          "cast((cast(diffm as decimal(38,0)) * diffm) div em as bigint)"))
        .select(col("split"), col("source"), col("o").as("n_obs"),
          (col("em").cast("double") / lit(1000000.0)).as("expected"),
          (col("contrib_micro").cast("double") / lit(1000000.0)).as("contrib"))
        .orderBy("split", "source")
    }),

    // EMBEDDING OUTLIER SCORES (diagonal-covariance Mahalanobis — the
    // embedding-space QA pass an ANN index wants before ingest: vectors
    // far from the per-dimension envelope are mislabeled media, encoder
    // failures, or poisoning candidates): per-dim mean/variance become
    // EXACT integers through the floor(v*1024) bridge (q123's), and each
    // vector's z^2 sum is a per-dim truncating division of exact
    // products — (n*vq - s)^2 * 1e6 div (n*qq - s^2), which is exactly
    // ((vq-mean)/sigma)^2 since both sides carry the same n^2 factor —
    // so the score is bit-identical cross-engine. Scale shape: one posexplode pass,
    // a D-row per-dim aggregate broadcast back (the r11 constant-table
    // rule: the LUT is the joined relation, never a driver closure),
    // one partial-aggregated groupBy per vector, TakeOrdered(20) — no
    // corpus-sized window, no sort. Zero-variance dims drop out exactly
    // (the n*qq = s^2 filter), mirroring the oracle.
    "q185_embedding_outliers" -> ((s, d) => {
      val q = t(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          floor(col("v").cast("double") * 1024.0).cast("long").as("vq"))
        .ckptLazy // consumers: per-dim stats, score pass
      val st = q.groupBy("pos").agg(count(lit(1)).as("n"), sum("vq").as("s"),
        sum(col("vq") * col("vq")).as("qq"))
      q.join(broadcast(st), "pos")
        .where(expr("cast(n as decimal(38,0)) * qq - cast(s as decimal(38,0)) * s > 0"))
        .withColumn("contrib", expr(
          "cast((cast(n * vq - s as decimal(38,0)) * (n * vq - s) * 1000000) " +
            "div (cast(n as decimal(38,0)) * qq - cast(s as decimal(38,0)) * s) as bigint)"))
        .groupBy("vec_id")
        .agg(sum("contrib").as("m2_micro"), count(lit(1)).as("n_dims"))
        .orderBy(col("m2_micro").desc, col("vec_id")).limit(20)
        .select(col("vec_id"), col("n_dims"),
          (col("m2_micro").cast("double") / lit(1000000.0)).as("mahal2"))
    }),

    // CORPUS CONCENTRATION — per-source GINI of document token mass
    // (the inequality read behind every "a few documents carry the
    // corpus" worry; complements q119's deciles and q141's Hill tail
    // index with a single bounded [0,1) concentration number): computed
    // COMBINATORIALLY over the length HISTOGRAM, never a per-doc rank —
    // docs at length L with count c occupy ranks r_prev+1..r_prev+c, so
    // 2*sum(i*x_i) = sum L*(2*c*r_prev + c*(c+1)) exactly; the window
    // orders distinct lengths (bounded by max doc length at ANY corpus
    // size — the aggregate-sized class). G_micro = ((2*sum(i*x_i) -
    // (n+1)*sum(x)) * 1e6) div (n*sum(x)), all DECIMAL(38,0)/HUGEINT
    // products — exact at any SF.
    "q186_token_gini" -> ((s, d) => {
      val hist = t(s, d, "documents")
        .select(col("source"), TF.tokenCount(col("text")).cast("long").as("len"))
        .groupBy("source", "len").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("source").orderBy("len")
        .rowsBetween(Window.unboundedPreceding, -1)
      hist.withColumn("r_prev", coalesce(sum("c").over(w), lit(0L)))
        .groupBy("source")
        .agg(sum("c").as("n_docs"), sum(expr("len * c")).as("n_tokens"),
          sum(expr("cast(len as decimal(38,0)) * " +
            "(2 * cast(c as decimal(38,0)) * r_prev + cast(c as decimal(38,0)) * (c + 1))"))
            .as("two_ix"))
        .where(col("n_tokens") > 0)
        .withColumn("gini", expr(
          "cast(((two_ix - cast(n_docs + 1 as decimal(38,0)) * n_tokens) * 1000000) " +
            "div (cast(n_docs as decimal(38,0)) * n_tokens) as bigint)")
          .cast("double") / lit(1000000.0))
        .select("source", "n_docs", "n_tokens", "gini")
        .orderBy("source")
    }),

    // BENJAMINI-HOCHBERG FDR over per-source KS drift (Benjamini &
    // Hochberg 1995 — the multiple-testing correction q122's per-source
    // statistics NEED before anyone acts on them: at 20 sources and
    // alpha=0.05 one source "drifts" by chance alone). Entirely in LOG
    // space so no exp() ever runs: ln p = ln 2 - 2mn D^2/(m+n)
    // (Smirnov's asymptotic tail), with the exponent an EXACT micro-
    // scaled integer t_micro = (2*m*n*ksq^2) div ((m+n... gtot)*1e6)
    // over DECIMAL(38,0)/HUGEINT, so the only floats are ln of exact
    // inputs (the q149 ln-parity discipline) and the BH step-up compare
    // runs on round-6 values (round-before-compare). Rank and step-up
    // windows order the per-SOURCE relation — aggregate-sized by
    // construction; the KS machinery is q122's de-skewed histogram
    // shape verbatim.
    "q188_ks_fdr" -> ((s, d) => {
      val cnt = t(s, d, "documents")
        .select(col("source"), TF.bpeTokenCount(col("text")).cast("long").as("n"))
        .groupBy("source", "n").agg(count(lit(1)).as("c"))
        .ckptLazy // consumers: spine, grid, tots
      val spine = cnt.groupBy("n").agg(sum("c").as("cg"))
        .withColumn("gcum", sum("cg").over(Window.orderBy("n")))
        .crossJoin(broadcast(cnt.agg(sum("c").as("gtot"))))
      val grid = cnt.select("source").distinct()
        .crossJoin(spine.select("n", "gcum", "gtot"))
        .join(cnt, Seq("source", "n"), "left")
        .withColumn("cum",
          coalesce(sum("c").over(
            Window.partitionBy("source").orderBy("n")), lit(0L)))
      val tots = cnt.groupBy("source").agg(sum("c").as("tot"))
      val ks = grid.join(tots, "source")
        .select(col("source"), col("tot"), col("gtot"),
          abs(expr("cast(cum * 1000000 as bigint) div tot") -
            expr("cast((gcum - cum) * 1000000 as bigint) div (gtot - tot)"))
            .as("diff"))
        .groupBy("source").agg(max("diff").as("ksq"),
          max("tot").as("tot"), max("gtot").as("gtot"))
      val kk = ks.agg(count(lit(1)).as("kk"))
      val scored = ks.crossJoin(broadcast(kk))
        .withColumn("t_micro", expr(
          "cast((2 * cast(tot as decimal(38,0)) * (gtot - tot) * ksq * ksq) " +
            "div (cast(gtot as decimal(38,0)) * 1000000) as bigint)"))
        .withColumn("lnp",
          log(lit(2.0)) - col("t_micro").cast("double") / lit(1000000.0))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("t_micro").desc, col("source"))))
        .withColumn("cond", round(col("lnp"), 6) <=
          round(log(col("rnk").cast("double")) + log(lit(0.05)) -
            log(col("kk").cast("double")), 6))
      val kmax = scored.agg(
        max(when(col("cond"), col("rnk")).otherwise(0)).as("kmax"))
      scored.crossJoin(broadcast(kmax))
        .select(col("source"),
          (col("ksq").cast("double") / lit(1000000.0)).as("ks"),
          round(col("lnp") / log(lit(10.0)), 6).as("log10_p"),
          col("rnk"),
          (col("rnk") <= col("kmax")).cast("int").as("rejected"))
        .orderBy("source")
    }),

    // JENKS NATURAL BREAKS — OPTIMAL variance-minimizing 4-bucket
    // segmentation of the document-length distribution (Fisher 1958 /
    // Jenks 1967; the SSE-optimal counterpart of q176's padding-argmin:
    // q176 minimizes pad waste, this minimizes within-bucket variance —
    // the classing every length-stratified sampler or router wants):
    // an exact integer DP over the LENGTH HISTOGRAM (distinct token
    // counts — bounded by max doc length at ANY corpus size, ~100 keys
    // here), segment cost sse_micro = ((Q*cnt - S^2) * 1e6) div cnt
    // from prefix sums (nonnegative by Cauchy-Schwarz, so truncation
    // agrees cross-engine), layer-by-layer argmin with (total, prev)
    // ties — the q149 integer-DP discipline on a GLOBAL aggregate: the
    // DP runs on the driver over the collected histogram (aggregate-
    // sized, the BpeTrainer K-scalars rule) and unrolls in the oracle
    // as 4 chained layer CTEs with row_number argmin.
    "q189_jenks_breaks" -> ((s, d) => {
      import s.implicits._
      val hist = t(s, d, "documents")
        .select(TF.tokenCount(col("text")).cast("long").as("len"))
        .groupBy("len").agg(count(lit(1)).as("c"))
        .orderBy("len")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val m = hist.length
      require(m >= 4, s"need >= 4 distinct lengths, got $m")
      val C = new Array[BigInt](m + 1)
      val S = new Array[BigInt](m + 1)
      val Q = new Array[BigInt](m + 1)
      C(0) = 0; S(0) = 0; Q(0) = 0
      for (i <- 1 to m) {
        val (len, c) = hist(i - 1)
        C(i) = C(i - 1) + c
        S(i) = S(i - 1) + BigInt(len) * c
        Q(i) = Q(i - 1) + BigInt(len) * len * c
      }
      // segment covering histogram rows a+1..b (1-based)
      def sse(a: Int, b: Int): BigInt = {
        val cnt = C(b) - C(a); val ss = S(b) - S(a); val qq = Q(b) - Q(a)
        ((qq * cnt - ss * ss) * 1000000) / cnt
      }
      // layered argmin with (total, prev) ties, smallest prev wins —
      // the oracle's row_number(ORDER BY tot, a) semantics exactly
      def layer(prevTot: Int => Option[BigInt], lo: Int): Array[Option[(BigInt, Int)]] =
        Array.tabulate(m + 1) { b =>
          val cands = (lo until b).flatMap(a => prevTot(a).map(t => (t + sse(a, b), a)))
          if (cands.isEmpty) None
          else Some(cands.minBy { case (t, a) => (t, BigInt(a)) })
        }
      val d1 = Array.tabulate(m + 1)(b => if (b >= 1) Some(sse(0, b)) else None)
      val d2 = layer(a => if (a >= 1) d1(a) else None, 1)
      val d3 = layer(a => d2(a).map(_._1), 2)
      val (_, a3) = (3 until m).map(a => (d3(a).get._1 + sse(a, m), a))
        .minBy { case (t, a) => (t, BigInt(a)) }
      val a2 = d3(a3).get._2
      val a1 = d2(a2).get._2
      val bounds = Seq((1, 0, a1), (2, a1, a2), (3, a2, a3), (4, a3, m))
      bounds.map { case (k, lo, hi) =>
        (k, hist(lo)._1, hist(hi - 1)._1, (C(hi) - C(lo)).toLong,
          (S(hi) - S(lo)).toLong, sse(lo, hi).toDouble / 1000000.0)
      }.toDF("bucket", "lo_len", "hi_len", "n_docs", "n_tokens", "sse")
        .orderBy("bucket")
    }),

    // INTER-ARRIVAL BURSTINESS — per event type, the coefficient of
    // variation of per-user inter-event gaps (CV ~ 1 is Poisson, CV > 1
    // bursty, CV < 1 regular — the q120 token-burstiness read applied
    // to the EVENT stream; what a rate limiter or anomaly baseline
    // assumes and never checks). Gaps are exact integer microseconds,
    // and CV^2 = (n*Q - S^2)/S^2 is one truncating micro-scaled
    // division of exact DECIMAL(38,0)/HUGEINT products — no float
    // anywhere. The lag window partitions by (user_id, event_type) —
    // the high-cardinality allowed class, bounded per user activity.
    "q190_interarrival_cv" -> ((s, d) => {
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_type"), tsMicros.as("us"), col("event_id"))
      val w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
      e.withColumn("gap", col("us") - lag("us", 1).over(w))
        .where(col("gap").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"), sum("gap").as("sgap"),
          sum(expr("cast(gap as decimal(38,0)) * gap")).as("qgap"))
        .where(col("sgap") > 0)
        .select(col("event_type"), col("n_gaps"),
          expr("sgap div n_gaps").as("mean_gap_us"),
          expr("cast(((cast(n_gaps as decimal(38,0)) * qgap - " +
            "cast(sgap as decimal(38,0)) * sgap) * 1000000) " +
            "div (cast(sgap as decimal(38,0)) * sgap) as bigint)")
            .cast("double")./(lit(1000000.0)).as("cv2"))
        .orderBy("event_type")
    }),

    // BOOTSTRAP CONFIDENCE INTERVAL for per-source mean quality (Efron
    // 1979, the percentile method — the uncertainty bar q100's dataset
    // card reports as a bare point estimate): B=64 DETERMINISTIC
    // resamples via the q18/q38 md5-membership idiom (md5(doc_id#b) <
    // 'cc' ~ 80% draws — seeded resampling that is reproducible across
    // engines BY CONSTRUCTION, no RNG state anywhere), per-resample
    // means as truncating integer divisions of micro-scaled quality
    // (qm = floor(q*1e6 + 0.5), the q139 idiom — identical doubles in,
    // identical integers out; integer sums are order-independent where
    // float sums are not), CI bounds as exact order statistics
    // (ceil-index selection over the per-source resample means). Scale
    // shape: qm computed ONCE per doc, the 64x membership fan-out is a
    // stateless projection into a partial-aggregated (source, b)
    // groupBy — aggregate-sized from there on; ranking windows order
    // <=64-row partitions.
    "q191_bootstrap_ci" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          floor(TF.qualityScore(col("text")) * 1000000.0 + 0.5)
            .cast("long").as("qm"))
        .ckptLazy // consumers: full mean, 64 resamples
      val bs = s.range(0, 64).select(col("id").cast("int").as("b"))
      val means = docs.crossJoin(broadcast(bs))
        .where(md5(concat(col("doc_id").cast("string"), lit("#"),
          col("b").cast("string")).cast("binary")) < "cc")
        .groupBy("source", "b")
        .agg(expr("cast(sum(qm) div count(*) as bigint)").as("mean_b"))
      val ranked = means
        .withColumn("nb", count(lit(1)).over(Window.partitionBy("source")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy("mean_b", "b")))
      val ci = ranked.groupBy("source")
        .agg(
          max(when(col("rn") === expr("(nb * 25 + 999) div 1000"),
            col("mean_b"))).as("lo_m"),
          max(when(col("rn") === expr("(nb * 975 + 999) div 1000"),
            col("mean_b"))).as("hi_m"))
      docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("cast(sum(qm) div count(*) as bigint)").as("mean_m"))
        .join(ci, "source")
        .select(col("source"), col("n_docs"),
          (col("mean_m").cast("double") / lit(1000000.0)).as("mean_q"),
          (col("lo_m").cast("double") / lit(1000000.0)).as("ci_lo"),
          (col("hi_m").cast("double") / lit(1000000.0)).as("ci_hi"))
        .orderBy("source")
    }),

    // IVF nPROBE RECALL SWEEP — the MEASUREMENT behind the nProbe knob
    // every IVF deployment hand-tunes (q39 searches at one setting;
    // this is the recall-vs-probes curve that justifies it, the q140/
    // q156 audit-next-to-exact theme aimed at the pruning parameter):
    // one q153 integer k-means training, one corpus assignment pass,
    // then for nProbe in {1, 2, 4} the probed integer-L2 top-4 per
    // anchor against the exact top-4 — per-(nProbe, anchor) hit counts
    // and micro-scaled recall. Candidates are probed-cell members ONLY
    // (the IVF contract — never all-pairs); the top-k windows partition
    // by (nProbe, anchor) — bounded partitions; cell ranking for 8
    // anchors x 8 cells happens driver-side on the trained K x D
    // centroids (the BpeTrainer K-scalars discipline), ties (d2, cid)
    // everywhere, mirroring the oracle's row_number exactly.
    "q192_nprobe_sweep" -> ((s, d) => {
      import s.implicits._
      val embs = t(s, d, "embeddings")
      val u = embs.select(col("vec_id").as("vid"),
          Similarity.quantized(col("embedding")).as("q"))
        .ckptLazy // consumers: train, assign, exact, candidates
      val (cents, _) = Similarity.kmeansTrainExactQuantized(u, k = 8, rounds = 3)
      val cellWrap = Array(cents)
      val cellUdf = udf((q: Array[Long]) => Similarity.pqNearestCodes(q, cellWrap)(0))
      val assigned = u.select(col("vid"), col("q"), cellUdf(col("q")).as("cid"))
      val qs = u.where(col("vid") < 8).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      // per-anchor cell ranking on the K x D trained table, ties (d2, cid)
      val probes = qs.toSeq.flatMap { case (qid, qq) =>
        cents.zipWithIndex.map { case (c, cid) =>
          (cid, c.zip(qq).map { case (a, b) =>
            BigInt(a - b) * BigInt(a - b) }.sum) }
          .sortBy { case (cid, d2) => (d2, BigInt(cid)) }
          .map(_._1).zipWithIndex
          .map { case (cid, r) => (qid, cid, r + 1) }
      }.toDF("qid", "cid", "cellrank")
      val qdf = qs.toSeq.map { case (id, qq) => (id, qq.toSeq) }.toDF("qid", "qq")
      val d2 = expr("aggregate(zip_with(qq, q, (a, b) -> (a-b)*(a-b)), 0L, (acc, x) -> acc + x)")
      val nps = Seq(1, 2, 4).toDF("nprobe")
      val probed = broadcast(probes).join(broadcast(nps),
          col("cellrank") <= col("nprobe"))
        .join(assigned, "cid").where(col("vid") =!= col("qid"))
        .join(broadcast(qdf), "qid")
        .withColumn("d2", d2)
        .withColumn("rk", row_number().over(Window.partitionBy("nprobe", "qid")
          .orderBy(col("d2"), col("vid"))))
        .where(col("rk") <= 4).select("nprobe", "qid", "vid")
      val exact = u.join(broadcast(qdf), col("vid") =!= col("qid"))
        .withColumn("d2", d2)
        .withColumn("rk", row_number().over(Window.partitionBy("qid")
          .orderBy(col("d2"), col("vid"))))
        .where(col("rk") <= 4).select(col("qid"), col("vid"))
      val grid = nps.crossJoin(qdf.select(col("qid")))
      grid.join(probed.join(exact, Seq("qid", "vid")), Seq("nprobe", "qid"), "left")
        .groupBy("nprobe", "qid")
        .agg(count(col("vid")).as("n_hits"))
        .select(col("nprobe"), col("qid").as("vec_id"), col("n_hits"),
          (expr("cast((n_hits * 1000000) div 4 as bigint)").cast("double")
            / lit(1000000.0)).as("recall"))
        .orderBy("nprobe", "vec_id")
    }),

    // CHARACTER ENTROPY RATE — per-source FIRST-ORDER conditional
    // entropy H(c2|c1) in bits/char (Shannon 1951's next-symbol
    // experiment; the sequential-structure read q135's zeroth-order
    // H(c) misses: random character soup and real text can share a
    // character HISTOGRAM while differing wildly in bigram structure —
    // the gap H(c) - H(c2|c1) IS the detectable structure): term
    // (n12/N)*log2(n1/n12) per bigram TYPE over the (source, char-pair)
    // histogram — bounded by alphabet^2 per source at ANY corpus size —
    // every log2 a ratio of exact integers (q135's parity), rounded
    // into DECIMAL and summed exactly. One corpus pass into a
    // partial-aggregated groupBy; everything downstream is
    // alphabet-sized.
    "q193_char_entropy_rate" -> ((s, d) => {
      val pr = t(s, d, "documents")
        .withColumn("cs", split(col("text"), ""))
        .select(col("source"), explode(expr(
          "zip_with(slice(cs, 1, size(cs)-1), slice(cs, 2, size(cs)-1)," +
            " (a, b) -> concat(a, b))")).as("pair"))
        .where(length(col("pair")) === 2)
        .groupBy("source", "pair").agg(count(lit(1)).as("n12"))
        .ckptLazy // consumers: context totals, source totals, terms
      val ctx = pr.select(col("source"), substring(col("pair"), 1, 1).as("c1"),
          col("n12"))
        .groupBy("source", "c1").agg(sum("n12").as("n1"))
      val tot = pr.groupBy("source").agg(sum("n12").as("np"))
      pr.withColumn("c1", substring(col("pair"), 1, 1))
        .join(ctx, Seq("source", "c1"))
        .join(broadcast(tot), "source")
        .withColumn("term",
          round((col("n12") * lit(1.0) / col("np")) *
            log2(col("n1") * lit(1.0) / col("n12")), 6).cast(DecimalType(18, 6)))
        .groupBy("source")
        .agg(max("np").as("n_pairs"), count(lit(1)).as("n_pair_types"),
          sum("term").as("h"))
        .select(col("source"), col("n_pairs"), col("n_pair_types"),
          round(col("h"), 6).cast("double").as("entropy_rate"))
        .orderBy("source")
    }),

    // QUALITY DECISION STUMP — the information-gain-optimal threshold
    // on q24's quality score against the Gopher label (the 1-split
    // decision tree trained IN-ENGINE; q180 showed the calibration,
    // q181 the ranking power — this answers "where do I actually CUT"):
    // every candidate threshold is a distinct rounded score value, and
    // its split counts are CUMULATIVE sums over the value-ordered
    // HISTOGRAM (bounded by round-6 granularity of a [0,1] score at ANY
    // corpus size — the q181 window argument); IG = H(P,N) -
    // weighted-H(children) with the binary-entropy fragment
    // interpolated VERBATIM into both engines (binEntropySql — one
    // definition, zero drift), ranked on the round-6 value with the
    // threshold as tie key (round-before-order). Top-5 stumps emitted.
    "q194_quality_stump" -> ((s, d) => {
      val hist = t(s, d, "documents")
        .select(round(TF.qualityScore(col("text")), 6).as("q"),
          TF.gopherKeep(col("text")).cast("long").as("gk"))
        .groupBy("q").agg(sum("gk").as("p"), count(lit(1)).as("m"))
      val w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
      val cum = hist.withColumn("cp", sum("p").over(w))
        .withColumn("cn", sum("m").over(w))
      val tot = hist.agg(sum("p").as("pp"), sum("m").as("nn"))
      cum.crossJoin(broadcast(tot)).where(col("cn") < col("nn"))
        .withColumn("ig", round(expr(
          s"${binEntropySql("pp", "nn")} - (cn*1.0/nn) * ${binEntropySql("cp", "cn")}" +
            s" - ((nn-cn)*1.0/nn) * ${binEntropySql("(pp-cp)", "(nn-cn)")}"), 6))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("ig").desc, col("q"))))
        .where(col("rank") <= 5)
        .select(col("rank"), col("q").as("threshold"),
          col("cn").as("n_left"), col("cp").as("pos_left"),
          (col("nn") - col("cn")).as("n_right"),
          (col("pp") - col("cp")).as("pos_right"), col("ig"))
        .orderBy("rank")
    }),

    // MARKOV STATIONARY DISTRIBUTION of the event-type chain — where
    // the q103 transition model SETTLES (the long-run visit share a
    // capacity planner reads; empirical share answers "what happened",
    // the stationary vector answers "what the dynamics converge to" —
    // the gap flags transient traffic mixes): 20 fixed power-iteration
    // rounds over the EXACT integer transition counts, each step a
    // truncating per-edge division ((x_i * n_ij) div n_i, nonnegative —
    // div == //) followed by a sum-normalize, all in driver BigInt
    // mirrored by 20 unrolled HUGEINT CTE rounds (the q78/q138 fixed-
    // round discipline). The K x K transition matrix is the ONLY
    // corpus-derived input — one lead-window pass + a partial-
    // aggregated groupBy, collected at aggregate size (the BpeTrainer
    // K-scalars rule); the lead window partitions by user_id, the
    // high-cardinality allowed class.
    "q195_markov_stationary" -> ((s, d) => {
      import s.implicits._
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_id"), tsMicros.as("us"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val tm = e.withColumn("next", lead("event_type", 1).over(w))
        .where(col("next").isNotNull)
        .groupBy(col("event_type").as("prev"), col("next"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val types = tm.flatMap(t3 => Seq(t3._1, t3._2)).distinct.sorted
      val nOut = tm.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val nIn = tm.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      val total = tm.map(_._3).sum
      var x: Map[String, BigInt] =
        types.map(tp => tp -> (BigInt(1000000) / types.length)).toMap
      for (_ <- 1 to 20) {
        val y = types.map { j =>
          j -> tm.filter(_._2 == j)
            .map { case (i, _, c) => (x(i) * c) / nOut(i) }
            .foldLeft(BigInt(0))(_ + _)
        }.toMap
        val tot = y.values.foldLeft(BigInt(0))(_ + _)
        x = types.map(j => j -> (y(j) * 1000000 / tot)).toMap
      }
      types.map { j =>
        (j, nOut.getOrElse(j, 0L), nIn.getOrElse(j, 0L),
          x(j).toDouble / 1000000.0,
          (BigInt(nIn.getOrElse(j, 0L)) * 1000000 / total).toDouble / 1000000.0)
      }.toSeq.toDF("event_type", "n_out", "n_in", "stationary", "empirical")
        .orderBy("event_type")
    }),

    // ABSORPTION TIME TO PURCHASE — expected number of events until the
    // chain first reaches the absorbing 'purchase' state, from each
    // event type (the funnel-length read next to q195's long-run shares
    // and q70's realized funnels: q70 measures what DID convert, this
    // is what the transition dynamics PREDICT): the fundamental-matrix
    // system t = 1 + P_transient * t solved by 20 fixed value-iteration
    // rounds over the exact integer counts — per round one truncating
    // division per type ((sum n_ij * t_j) div n_i, nonneg ⇒ div == //),
    // driver BigInt mirrored by 20 unrolled HUGEINT CTE rounds (the
    // q195 machinery with an absorbing boundary). The 20-round
    // truncated expectation IS the contract (chains that avoid
    // absorption diverge; the fixed horizon bounds them). Types with no
    // observed outgoing edges pin at exactly one step.
    "q197_absorption_time" -> ((s, d) => {
      import s.implicits._
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_id"), tsMicros.as("us"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val tm = e.withColumn("next", lead("event_type", 1).over(w))
        .where(col("next").isNotNull)
        .groupBy(col("event_type").as("prev"), col("next"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val types = tm.flatMap(t3 => Seq(t3._1, t3._2)).distinct.sorted
      val nOut = tm.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      var ts: Map[String, BigInt] = types.map(_ -> BigInt(0)).toMap
      for (_ <- 1 to 20) {
        ts = types.map { i =>
          i -> (if (i == "purchase") BigInt(0)
          else {
            val acc = tm.filter(_._1 == i)
              .map { case (_, j, c) => BigInt(c) * ts(j) }
              .foldLeft(BigInt(0))(_ + _)
            BigInt(1000000) +
              (if (nOut.getOrElse(i, 0L) > 0) acc / nOut(i) else BigInt(0))
          })
        }.toMap
      }
      types.map { i =>
        (i, nOut.getOrElse(i, 0L), ts(i).toDouble / 1000000.0)
      }.toSeq.toDF("event_type", "n_out", "exp_steps")
        .orderBy("event_type")
    }),

    // PER-SOURCE PSI (population stability index, the credit-scoring /
    // model-monitoring standard; Karakoulas 2004) of the quality-score
    // distribution vs the corpus — the FIXED-BUCKET drift member next
    // to q84's mass-KL and q122/q188's KS: PSI's equal-width buckets
    // need NO window at all (bucket = floor(q*10) on the [0,1] score —
    // q180's decile ntile is the one corpus window this family can't
    // avoid; PSI avoids it), so the whole query is two partial-
    // aggregated groupBys and an alphabet-sized join. Add-one smoothing
    // keeps every share POSITIVE; each term (ps - pg) * ln(ps/pg) is
    // evaluated with the IDENTICAL expression text in both engines
    // ((c+1)*1.0/(n+10): long-to-double exact below 2^53, every IEEE op
    // correctly rounded — parity without integer products that would
    // wrap at web scale), rounded into DECIMAL and summed exactly.
    "q198_quality_psi" -> ((s, d) => {
      val b = t(s, d, "documents")
        .select(col("source"),
          least(floor(TF.qualityScore(col("text")) * 10.0), lit(9.0))
            .cast("int").as("bucket"))
        .groupBy("source", "bucket").agg(count(lit(1)).as("cs"))
        .ckptLazy // consumers: corpus buckets, source totals, grid
      val g = b.groupBy("bucket").agg(sum("cs").as("cg"))
        .crossJoin(broadcast(b.agg(sum("cs").as("ng"))))
      val ns = b.groupBy("source").agg(sum("cs").as("ns"))
      val grid = ns.crossJoin(g.select("bucket", "cg", "ng"))
        .join(b, Seq("source", "bucket"), "left")
        .withColumn("cs", coalesce(col("cs"), lit(0L)))
      grid
        .withColumn("term", expr(
          "cast(round((cast(cs + 1 as double) / (ns + 10) - cast(cg + 1 as double) / (ng + 10)) " +
            "* ln((cast(cs + 1 as double) / (ns + 10)) / (cast(cg + 1 as double) / (ng + 10))), 6) " +
            "as decimal(18,6))"))
        .groupBy("source")
        .agg(max("ns").as("n_docs"), sum("term").as("psi_dec"))
        .select(col("source"), col("n_docs"),
          round(col("psi_dec"), 6).cast("double").as("psi"))
        .orderBy("source")
    }),

    // VOCABULARY COVERAGE PROBES — "what vocab size covers the corpus"
    // (the tokenizer-budget read behind every vocab-size decision;
    // q82's Heaps curve counts NEW types, this counts MASS): for each
    // probe K in {16..4096} the token mass covered by the top-K tokens.
    // The ENGINE never ranks the full vocabulary: each probe is a
    // TakeOrderedAndProject(K) over the partial-aggregated token
    // histogram (5 bounded probes, deterministic (freq desc, token)
    // ties) — the oracle, which has no scale constraint, ranks once and
    // windows. Coverage is a micro-scaled DECIMAL/HUGEINT division
    // (covered*1e6 wraps BIGINT once the corpus passes ~9e12 tokens).
    "q199_vocab_coverage" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .ckptLazy // consumers: totals + 5 top-K probes
      val tot = tf.agg(sum("freq").as("total"), count(lit(1)).as("vocab"))
      val probes = Seq(16, 64, 256, 1024, 4096).map { k =>
        tf.orderBy(col("freq").desc, col("token")).limit(k)
          .agg(lit(k).as("k"), sum("freq").as("covered"))
      }.reduce(_ unionByName _)
      probes.crossJoin(broadcast(tot))
        .select(col("k").cast("int").as("k"), col("covered"),
          col("vocab"), col("total"),
          (expr("cast((cast(covered as decimal(38,0)) * 1000000) div total as bigint)")
            .cast("double") / lit(1000000.0)).as("coverage"))
        .orderBy("k")
    }),

    // SESSION-LEVEL EVENT-TYPE PMI — which event types co-occur within
    // a session beyond chance (q90's NPMI collocation question lifted
    // from token bigrams to BEHAVIORAL sessions; the affinity signal
    // behind "users who error also sign up"): q50's 12 h gap
    // sessionization verbatim, per-session DISTINCT type sets, pair
    // counts by a session-keyed self-join (bounded per session by the
    // type alphabet — at most K(K-1)/2 pairs per session, never a
    // corpus quadratic), then PMI = ln(n_ab*N/(n_a*n_b)) over exact
    // integer counts (ln-of-integer-ratio parity), round-6. The lag/
    // running-sum windows partition by user_id (the high-cardinality
    // allowed class); everything after the session-type distinct is
    // alphabet-sized.
    "q201_session_type_pmi" -> ((s, d) => {
      val gapUs = 43200L * 1000000L
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_id"), tsMicros.as("us"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val st = e.withColumn("new_s",
          when(lag("us", 1).over(w).isNull ||
            col("us") - lag("us", 1).over(w) > gapUs, 1L).otherwise(0L))
        .withColumn("session_id",
          sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("session_id"), col("event_type"))
        .distinct()
        .ckptLazy // consumers: totals, per-type counts, pair join
      val nTot = st.select("user_id", "session_id").distinct()
        .agg(count(lit(1)).as("n_sessions"))
      val nt = st.groupBy("event_type").agg(count(lit(1)).as("n_t"))
      val pairs = st.select(col("user_id"), col("session_id"),
          col("event_type").as("type_a"))
        .join(st.select(col("user_id"), col("session_id"),
          col("event_type").as("type_b")), Seq("user_id", "session_id"))
        .where(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(nt.select(col("event_type").as("type_a"), col("n_t").as("n_a"))), "type_a")
        .join(broadcast(nt.select(col("event_type").as("type_b"), col("n_t").as("n_b"))), "type_b")
        .crossJoin(broadcast(nTot))
        .where(col("n_ab") >= 5)
        .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"),
          round(log(expr("cast(n_ab as double) * n_sessions") /
            expr("cast(n_a as double) * n_b")), 6).as("pmi"))
        .orderBy("type_a", "type_b")
    }),

    // FLESCH READABILITY per source (Flesch 1948; Kincaid et al. 1975 —
    // the classic surface-feature readability pair, the curation signal
    // next to q24's quality heuristic that CCNet-style pipelines bucket
    // on): words = the q22 whitespace token count, sentences =
    // [.!?]+ runs floored at 1 per doc, syllables approximated by
    // [aeiouy]+ vowel-group runs (the standard regex surrogate). Both
    // grade and reading-ease are EXACT truncating integer recipes over
    // the per-source count sums — fk_micro = 390000*W div S +
    // 11800000*Y div W - 15590000 (the recipe IS the statistic, q153's
    // rule) — with DECIMAL(38,0)/HUGEINT products because W*1015000
    // crosses 2^63 once a source passes ~9e12 words (r13 rule). One
    // narrow stateless projection + one partial-aggregated groupBy;
    // nothing downstream is corpus-sized.
    "q202_readability" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("source"),
          TF.tokenCount(col("text")).cast("long").as("w"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .cast("long").as("sn"),
          regexp_count(col("text"), lit("[aeiouyAEIOUY]+")).cast("long").as("y"))
      docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
          sum("sn").as("n_sentences"), sum("y").as("n_syllables"))
        .where(col("n_words") > 0)
        .select(col("source"), col("n_docs"), col("n_words"),
          col("n_sentences"), col("n_syllables"),
          ((expr("(cast(n_words as decimal(38,0)) * 390000) div n_sentences + " +
            "(cast(n_syllables as decimal(38,0)) * 11800000) div n_words")
            - lit(15590000L)).cast("double") / lit(1000000.0)).as("fk_grade"),
          ((lit(206835000L) -
            expr("(cast(n_words as decimal(38,0)) * 1015000) div n_sentences") -
            expr("(cast(n_syllables as decimal(38,0)) * 84600000) div n_words"))
            .cast("double") / lit(1000000.0)).as("reading_ease"))
        .orderBy("source")
    }),

    // SPEARMAN RANK CORRELATION between q24's quality score and BPE
    // length, per source (Spearman 1904 — the monotone-association read
    // q95's OLS line and q137's categorical MI both miss; "do longer
    // docs score better?" asked rank-wise, robust to both scales): ranks
    // are NEVER assigned per row — average ranks come from the two
    // value HISTOGRAMS (doubled to stay integer: R2 = 2*r_prev + c + 1),
    // whose cumulative windows order distinct round-6 quality keys
    // (≤1e6+1 per source) and distinct lengths (bounded by max doc
    // length) — the r13 allowed-window argument at ANY corpus size.
    // Centering by the exact rank mean n+1 makes Σcx = 0, so rho =
    // Σcxcy / sqrt(Σcx²·Σcy²) needs NO n·S products: every sum is a
    // DECIMAL(38,0)/HUGEINT of |cx·cy| ≤ 4n² terms (exact to n ~ 1e12),
    // and the one double expression is textually identical both engines
    // (q198's discipline), round-6 at the emit. Docs join their ranks
    // by aggregate-keyed (source, value) joins — linear, no corpus
    // window ever.
    "q203_spearman_rank" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          floor(TF.qualityScore(col("text")) * 1000000.0 + 0.5)
            .cast("long").as("qm"),
          TF.bpeTokenCount(col("text")).cast("long").as("len"))
        .ckptLazy // consumers: n, two rank histograms, rank join
      val n = docs.groupBy("source").agg(count(lit(1)).as("n"))
      def ranks(keyCol: String, rankName: String): DataFrame = {
        val h = docs.groupBy("source", keyCol).agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("source").orderBy(keyCol)
          .rowsBetween(Window.unboundedPreceding, -1)
        h.withColumn("r_prev", coalesce(sum("c").over(w), lit(0L)))
          .select(col("source"), col(keyCol),
            (col("r_prev") * 2 + col("c") + 1).as(rankName))
      }
      docs.join(ranks("qm", "r2x"), Seq("source", "qm"))
        .join(ranks("len", "r2y"), Seq("source", "len"))
        .join(broadcast(n), "source")
        .select(col("source"), col("n"),
          (col("r2x") - col("n") - 1).as("cx"),
          (col("r2y") - col("n") - 1).as("cy"))
        .groupBy("source", "n")
        .agg(
          sum(expr("cast(cx as decimal(38,0)) * cy")).as("sxy"),
          sum(expr("cast(cx as decimal(38,0)) * cx")).as("sxx"),
          sum(expr("cast(cy as decimal(38,0)) * cy")).as("syy"))
        .where(col("sxx") > 0 && col("syy") > 0)
        .select(col("source"), col("n"),
          round(col("sxy").cast("double") /
            sqrt(col("sxx").cast("double") * col("syy").cast("double")), 6)
            .as("rho"))
        .orderBy("source")
    }),

    // WEEKLY SEASONAL DECOMPOSITION of daily event volume (the
    // classical additive decomposition behind STL, Cleveland et al.
    // 1990 — the model q99's anomaly z-flags assume but never exhibit:
    // volume = trend + weekday seasonal + remainder): trend is the
    // centered 7-day moving average (exact micro-scaled: (Σ7·1e6) div
    // 7, null at the 3-day edges where the frame is short), seasonal is
    // the per-weekday mean of the detrended series via SIGN-SPLIT
    // truncating division (detrended goes negative — DuckDB // floors
    // where Spark div truncates, q177's rule), remainder is exact
    // subtraction. Every window orders the DAY relation — aggregate-
    // sized at any corpus size (the r13 allowed-window class); the one
    // corpus pass is the daily groupBy count. Products ride
    // DECIMAL(38,0)/HUGEINT (v·1e6 wraps BIGINT past ~9e12 events/day).
    "q204_seasonal_volume" -> ((s, d) => {
      val days = t(s, d, "events")
        .select(date_format(timestamp_micros(tsMicros), "yyyy-MM-dd").as("day"))
        .groupBy("day").agg(count(lit(1)).as("v"))
        .ckptLazy // aggregate-sized; consumers: trend + weekday means
      val f7 = Window.orderBy("day").rowsBetween(-3, 3)
      val det = days
        .withColumn("n7", count(lit(1)).over(f7))
        .withColumn("s7", sum("v").over(f7))
        .withColumn("trend_micro",
          when(col("n7") === 7,
            expr("cast((cast(s7 as decimal(38,0)) * 1000000) div 7 as bigint)")))
        .withColumn("det_micro",
          expr("cast((cast(v as decimal(38,0)) * 1000000) as bigint) - trend_micro"))
        .withColumn("wd", weekday(to_date(col("day"))))
        .ckptLazy // consumers: weekday agg + final join
      val se = det.where(col("det_micro").isNotNull)
        .groupBy("wd")
        .agg(sum("det_micro").as("sd"), count(lit(1)).as("nd"))
        .select(col("wd"), expr(
          "case when sd < 0 then -((-sd) div nd) else sd div nd end")
          .as("seasonal_micro"))
      det.join(broadcast(se), Seq("wd"), "left")
        .select(col("day"), col("v"),
          (col("trend_micro").cast("double") / lit(1000000.0)).as("trend"),
          (col("seasonal_micro").cast("double") / lit(1000000.0)).as("seasonal"),
          ((col("det_micro") - col("seasonal_micro")).cast("double")
            / lit(1000000.0)).as("remainder"))
        .orderBy("day")
    }),

    // LEXICAL DIVERSITY INDICES per source (Simpson 1949; Hurlbert 1971's
    // PIE; Berger & Parker 1970 — the ecology trio applied to token
    // distributions, complementing q135's entropy with the
    // pair-collision view: Simpson = P(two random tokens are the same
    // type), computed COMBINATORIALLY as Σc(c−1)/(n(n−1)) over the
    // (source, token) histogram — q150's distinct-signature pair rule,
    // exact where plug-in Σp² is biased): every index a truncating
    // micro-scaled division of DECIMAL(38,0)/HUGEINT products (Σc(c−1)
    // and n(n−1) cross 2^63 past ~3e9 tokens per source); one
    // partial-aggregated (source, token) groupBy is the only
    // corpus-sized stage, no window anywhere, and the Zipfian token key
    // never partitions one (the q52 de-skew discipline).
    "q205_lexical_diversity" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"),
          max("c").as("max_c"),
          sum(expr("cast(c as decimal(38,0)) * (c - 1)")).as("rep2"))
        .where(col("n_tokens") > 1)
        .select(col("source"), col("n_types"), col("n_tokens"),
          (expr("cast((rep2 * 1000000) div (cast(n_tokens as decimal(38,0)) " +
            "* (n_tokens - 1)) as bigint)").cast("double")
            / lit(1000000.0)).as("simpson"),
          ((lit(1000000L) -
            expr("cast((rep2 * 1000000) div (cast(n_tokens as decimal(38,0)) " +
              "* (n_tokens - 1)) as bigint)")).cast("double")
            / lit(1000000.0)).as("pie"),
          (expr("cast((cast(max_c as decimal(38,0)) * 1000000) div n_tokens " +
            "as bigint)").cast("double") / lit(1000000.0)).as("berger_parker"),
          (expr("cast((cast(n_types as decimal(38,0)) * 1000000) div n_tokens " +
            "as bigint)").cast("double") / lit(1000000.0)).as("ttr"))
        .orderBy("source")
    }),

    // DEGREE ASSORTATIVITY of the near-dup graph (Newman 2002 — do
    // heavy duplicators link to other heavy duplicators? Positive r =
    // template FAMILIES (hub-hub boilerplate ecosystems, the k-core
    // q136 peels); negative r = hub-and-spoke (one canonical page,
    // many one-off copies — cheap to dedup). Edges are the SAME
    // minhashLshPairs call q26/q43/q86 oracle (banded, hot-bucket
    // capped, never all-pairs); degrees via partial-aggregated groupBy
    // joined back to the persisted edge list (aggregate-keyed, linear —
    // the q52 shape, no window). The Pearson-over-edges sums S1=Σ(j+k),
    // S2=Σ(j²+k²), S3=Σjk are DECIMAL(38,0)/HUGEINT (deg² products
    // cross 2^63 on hub-heavy graphs), r = (4M·S3−S1²)/(2M·S2−S1²) one
    // identical double expression, NULL when the degree variance is 0
    // (all-equal degrees — decided by an EXACT integer comparison, not
    // a float epsilon).
    "q206_dup_assortativity" -> ((s, d) => {
      val pairs = Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text")
        .select("doc_a", "doc_b")
        .ckptLazy // consumers: degree agg + edge join
      val deg = pairs.select(col("doc_a").as("id"))
        .unionByName(pairs.select(col("doc_b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
        .ckptLazy // consumers: node count + two edge joins
      val e = pairs
        .join(deg.select(col("id").as("doc_a"), col("deg").as("da")), "doc_a")
        .join(deg.select(col("id").as("doc_b"), col("deg").as("db")), "doc_b")
      val agg = e.agg(
        count(lit(1)).as("m_edges"),
        sum(expr("cast(da as decimal(38,0)) + db")).as("s1"),
        sum(expr("cast(da as decimal(38,0)) * da + cast(db as decimal(38,0)) * db")).as("s2"),
        sum(expr("cast(da as decimal(38,0)) * db")).as("s3"))
      val nodes = deg.agg(count(lit(1)).as("n_nodes"))
      agg.crossJoin(broadcast(nodes)) // one-row aggregate broadcast
        .select(col("n_nodes"), col("m_edges"),
          when(expr("2 * cast(m_edges as decimal(38,0)) * s2 - s1 * s1") === lit(0),
            lit(null).cast("double"))
            .otherwise(round(
              expr("cast(4 * cast(m_edges as decimal(38,0)) * s3 - s1 * s1 as double)") /
              expr("cast(2 * cast(m_edges as decimal(38,0)) * s2 - s1 * s1 as double)"), 6))
            .as("assortativity"))
    }),

    // BLOOM-FILTER FALSE-POSITIVE AUDIT (Bloom 1970; the measured-vs-
    // predicted read on the machinery q67's decontamination prunes
    // with — approximation-error-as-data, the q140/q156 theme aimed at
    // the engine's own membership sketch): an m=2^16-bit, k=4 filter is
    // BUILT in-plan from the low-id sources' distinct content hashes
    // (positions = portable md5 draws, the PortableHash convention), then
    // probed with the high-id sources' TRUE NON-members (exact anti-join
    // membership is the ground truth only a validation corpus can
    // afford); measured FPR = probes hitting all 4 set bits, predicted
    // FPR = fill^k = (bits_set⁴·1e6) div 2^64 — EXACT integer arithmetic
    // (bits_set⁴ crosses 2^63, so DECIMAL(38,0)/HUGEINT), no libm pow
    // anywhere. The bit SET is aggregate-sized (≤ 2^16 rows at ANY
    // corpus size) and explicitly broadcast into the probe semi-join;
    // position expansion is a stateless 4× fan-out; per-probe hit
    // counting groups by the high-cardinality hash key (allowed class).
    "q207_bloom_fpr" -> ((s, d) => {
      val m = 65536
      val docs = t(s, d, "documents").select(
        expr("cast(substring(source, 4) as int)").as("sid"),
        expr("cast(conv(substr(md5(cast(text as binary)), 1, 15), 16, 10) as bigint)").as("h"))
      val ins = docs.where(col("sid") < 10).select("h").distinct()
        .ckptLazy // consumers: bits, anti-join, count
      val probes = docs.where(col("sid") >= 10).select("h").distinct()
        .join(ins, Seq("h"), "left_anti")
        .ckptLazy // consumers: probe fan-out + count
      def positions(df: DataFrame): DataFrame = df
        .select(col("h"), explode(array((0 until 4).map(lit): _*)).as("i"))
        .select(col("h"), expr("cast(conv(substr(md5(cast(concat(h, '#', i) " +
          s"as binary)), 1, 15), 16, 10) as bigint) % $m").as("pos"))
      val bits = positions(ins).select("pos").distinct()
        .ckptLazy // consumers: fill count + probe semi-join
      val nFp = positions(probes)
        .join(broadcast(bits), Seq("pos"), "left_semi")
        .groupBy("h").agg(count(lit(1)).as("nhit"))
        .where(col("nhit") === 4)
        .agg(count(lit(1)).as("n_false_pos"))
      ins.agg(count(lit(1)).as("n_inserted"))
        .crossJoin(broadcast(probes.agg(count(lit(1)).as("n_probes"))))
        .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
        .crossJoin(broadcast(nFp))
        .select(col("n_inserted"), col("n_probes"), lit(m.toLong).as("m_bits"),
          lit(4L).as("k_hashes"), col("bits_set"), col("n_false_pos"),
          when(col("n_probes") === 0, lit(null).cast("double"))
            .otherwise(expr("cast((cast(n_false_pos as decimal(38,0)) * 1000000) " +
              "div n_probes as bigint)").cast("double") / lit(1000000.0))
            .as("measured_fpr"),
          (expr("cast((cast(bits_set as decimal(38,0)) * bits_set * bits_set * bits_set " +
            "* 1000000) div 18446744073709551616 as bigint)").cast("double")
            / lit(1000000.0)).as("predicted_fpr"))
    }),

    // HOLT DOUBLE EXPONENTIAL SMOOTHING of daily event volume (Holt
    // 1957 — the level+trend forecaster behind every ops dashboard;
    // q204 decomposes history, THIS extrapolates it): α=1/2 and β=1/4
    // are DYADIC, so the whole recurrence is exact integer arithmetic —
    // l_t = (v_t·1e6 + l_{t-1} + b_{t-1}) div 2, b_t = (l_t − l_{t-1} +
    // 3·b_{t-1}) div 4 — with TRUNCATING division on possibly-negative
    // operands (Scala BigInt / truncates toward zero; the oracle
    // sign-splits DuckDB's flooring //, q177's rule). The day relation
    // is aggregate-sized at any corpus size, so the sequential pass is
    // a driver BigInt loop (the BpeTrainer K-scalars rule); the oracle
    // replays it as a DuckDB RECURSIVE CTE over the day index — a
    // single-row frontier, no fixed-round unroll, any day count.
    // One-step forecast fc_t = l_{t-1} + b_{t-1} and its error are
    // emitted per day (NULL at t=1).
    "q208_holt_smoothing" -> ((s, d) => {
      import s.implicits._
      val days = t(s, d, "events")
        .select(date_format(timestamp_micros(tsMicros), "yyyy-MM-dd").as("day"))
        .groupBy("day").agg(count(lit(1)).as("v"))
        .orderBy("day")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      require(days.nonEmpty, "no events")
      val M = BigInt(1000000)
      def tdiv(x: BigInt, q: BigInt): BigInt = if (x < 0) -((-x) / q) else x / q
      val out = Array.ofDim[(String, Long, Double, Double, Option[Double], Option[Double])](days.length)
      var l = BigInt(days(0)._2) * M
      var b = BigInt(0)
      out(0) = (days(0)._1, days(0)._2, l.toDouble / 1e6, 0.0, None, None)
      for (i <- 1 until days.length) {
        val (day, v) = days(i)
        val fc = l + b
        val nl = tdiv(BigInt(v) * M + l + b, 2)
        val nb = tdiv(nl - l + 3 * b, 4)
        l = nl; b = nb
        out(i) = (day, v, l.toDouble / 1e6, b.toDouble / 1e6,
          Some(fc.toDouble / 1e6), Some((BigInt(v) * M - fc).toDouble / 1e6))
      }
      out.toSeq.toDF("day", "v", "level", "trend", "forecast", "fc_error")
        .orderBy("day")
    }),

    // BURROWS' DELTA between sources (Burrows 2002; Argamon 2008 — THE
    // stylometric distance: mean |z-score difference| of the top-50
    // function-word frequencies; here "who wrote this source" becomes
    // "which sources share a template/generator", the provenance read
    // next to q109's contamination matrix): relative frequencies are
    // exact micro integers ((c·1e6) div n_i), the per-token z-score
    // collapses algebraically to (k·f − Σf)/sqrt(k·Σf² − (Σf)²) — exact
    // integer operands, ONE identical double expression both engines —
    // and is re-quantized to 6dp BEFORE the pairwise sum, so Δ is an
    // order-free exact integer mean (the q112 no-float-order rule).
    // Zero-variance tokens drop by an EXACT integer filter. Everything
    // below the (source, token) histogram is aggregate-sized (top-50 ×
    // k sources); the top-50 selection is a TakeOrdered over the
    // partial-aggregated global histogram, never a vocabulary rank.
    "q209_burrows_delta" -> ((s, d) => {
      val hist = t(s, d, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
        .ckptLazy // consumers: totals, top-50, freq join
      val totals = hist.groupBy("source").agg(sum("c").as("n_tok"))
      val top = hist.groupBy("token").agg(sum("c").as("gc"))
        .orderBy(col("gc").desc, col("token")).limit(50).select("token")
      // NOT checkpointed (r13 verdict #1): f is aggregate-sized (top-50 ×
      // k sources) and derives from the checkpointed hist, so recompute
      // is cheap — and keeping it in-plan means the top-50
      // TakeOrderedAndProject and the windowless shape stay visible to
      // PlanGuardSpec's executed-plan walk instead of hiding inside a
      // separate checkpoint materialization.
      val f = totals.crossJoin(broadcast(top))
        .join(hist, Seq("source", "token"), "left")
        .select(col("source"), col("token"),
          expr("cast((cast(coalesce(c, 0) as decimal(38,0)) * 1000000) " +
            "div n_tok as bigint)").as("fm"))
      val st = f.groupBy("token").agg(count(lit(1)).as("k"),
          sum("fm").as("sf"),
          sum(expr("cast(fm as decimal(38,0)) * fm")).as("qf"))
        .where(expr("cast(k as decimal(38,0)) * qf - cast(sf as decimal(38,0)) * sf") > 0)
      val z = f.join(broadcast(st), "token")
        .select(col("source"), col("token"),
          expr("cast(round(cast(cast(k as decimal(38,0)) * fm - sf as double) / " +
            "sqrt(cast(cast(k as decimal(38,0)) * qf - " +
            "cast(sf as decimal(38,0)) * sf as double)) * 1000000, 0) as bigint)")
            .as("zm"))
      // both sides are ≤ 50 tokens × k sources — broadcast explicitly
      // (r13 verdict #6: the planner's stats guess planned this as a
      // sort-merge join over aggregate-sized relations)
      z.select(col("source").as("source_a"), col("token"), col("zm").as("za"))
        .join(broadcast(
          z.select(col("source").as("source_b"), col("token"), col("zm").as("zb"))),
          "token")
        .where(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_features"), sum(abs(col("za") - col("zb"))).as("sad"))
        .select(col("source_a"), col("source_b"), col("n_features"),
          (expr("sad div n_features").cast("double") / lit(1000000.0)).as("delta"))
        .orderBy("source_a", "source_b")
    }),

    // ONE-WAY ANOVA of quality across sources (Fisher 1925 — the
    // omnibus "do sources differ at all?" test upstream of q191's
    // per-source CIs and q143's two-group permutation test): between/
    // within sums of squares as EXACT truncating integer recipes over
    // micro-scaled quality — w_i = (S_i²·1e6) div n_i, SSB = Σw_i −
    // (S²·1e6) div N, SSW = (ΣQ_i)·1e6 − Σw_i (the recipe IS the
    // statistic, q153's rule; DECIMAL(38,0)/HUGEINT since S_i² crosses
    // 2^63 past ~3e9 docs) — and F and η² as one identical double
    // expression each. The per-source moment table is the only
    // corpus-derived input; everything downstream is k rows.
    // The per-source moment table is the only corpus-derived input —
    // k rows, so the exact arithmetic is a driver BigInt fold (the
    // BpeTrainer K-scalars rule; per-group S_i²·1e6 div n_i exceeds
    // BIGINT past ~1e6 docs/source, and Spark's div lands in LONG —
    // the oracle's HUGEINT // has no such ceiling, the driver's BigInt
    // matches it exactly).
    "q210_anova_quality" -> ((s, d) => {
      import s.implicits._
      val g = t(s, d, "documents")
        .select(col("source"),
          floor(TF.qualityScore(col("text")) * 1000000.0 + 0.5)
            .cast("long").as("qm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("qm").as("sq"),
          sum(expr("cast(qm as decimal(38,0)) * qm")).as("qq"))
        .collect()
        .map(r => (BigInt(r.getLong(1)), BigInt(r.getLong(2)),
          BigInt(r.getDecimal(3).toBigInteger)))
      require(g.nonEmpty, "no documents")
      val M = BigInt(1000000)
      val k = BigInt(g.length)
      val n = g.map(_._1).sum
      val sTot = g.map(_._2).sum
      val qTot = g.map(_._3).sum
      val wSum = g.map { case (ni, si, _) => (si * si * M) / ni }.sum
      val ssb = wSum - (sTot * sTot * M) / n
      val ssw = qTot * M - wSum
      val f =
        if (ssw == 0 || k <= 1) None
        else Some(BigDecimal((ssb * (n - k)).toDouble / (ssw * (k - 1)).toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val eta2 =
        if (ssb + ssw == 0) None
        else Some(((ssb * M) / (ssb + ssw)).toDouble / 1e6)
      Seq((k.toLong, n.toLong, ssb.toDouble / 1e6, ssw.toDouble / 1e6, f, eta2))
        .toDF("k_groups", "n_docs", "ssb", "ssw", "f_stat", "eta2")
    }),

    // KENDALL TAU-B of quality vs length per source (Kendall 1945, the
    // tie-corrected form — the concordance twin of q203's Spearman;
    // the two disagree exactly when association is driven by a few
    // extreme ranks, so shipping both is the standard practice):
    // counted COMBINATORIALLY over a FIXED-GRID contingency table —
    // decile-ish buckets qb = floor(q·10), lb = floor(len/64) capped,
    // fixed-width so NO window is needed anywhere (q198's bucket
    // argument; a rank-based decile would cost the one global ntile
    // q180 documents) — concordant/discordant pairs are ONE cell
    // self-join within source (≤100 cells/source at ANY corpus size),
    // tie terms from row/column margins, everything DECIMAL(38,0)/
    // HUGEINT (cell products cross 2^63 past ~3e9 docs), tau-b one
    // identical double expression with exact-integer zero guards.
    "q211_kendall_tau" -> ((s, d) => {
      val cells = t(s, d, "documents")
        .select(col("source"),
          least(lit(9L), floor(TF.qualityScore(col("text")) * 10.0)).as("qb"),
          least(lit(9L), TF.bpeTokenCount(col("text")).cast("long").divide(lit(64)).cast("long")).as("lb"))
        .groupBy("source", "qb", "lb").agg(count(lit(1)).as("c"))
        .ckptLazy // consumers: pair join, margins, totals
      val pairs = cells.select(col("source"), col("qb").as("qa"), col("lb").as("la"),
          col("c").as("ca"))
        // ≤100 fixed-grid cells per source at ANY corpus size — broadcast
        // the self-join side explicitly (r14 SMJ sweep: the checkpointed
        // histogram has no stats, so the planner sort-merged this)
        .join(broadcast(cells.select(col("source"), col("qb").as("qbb"),
          col("lb").as("lbb"), col("c").as("cb"))), "source")
        .where(col("qa") < col("qbb"))
        .groupBy("source")
        .agg(
          sum(when(col("la") < col("lbb"),
            expr("cast(ca as decimal(38,0)) * cb")).otherwise(lit(0))).as("nc"),
          sum(when(col("la") > col("lbb"),
            expr("cast(ca as decimal(38,0)) * cb")).otherwise(lit(0))).as("nd"))
      val rowm = cells.groupBy("source", "qb").agg(sum("c").as("r"))
        .groupBy("source").agg(sum(expr("cast(r as decimal(38,0)) * (r - 1)")).as("tr"))
      val colm = cells.groupBy("source", "lb").agg(sum("c").as("cc"))
        .groupBy("source").agg(sum(expr("cast(cc as decimal(38,0)) * (cc - 1)")).as("tc"))
      val tot = cells.groupBy("source").agg(sum("c").as("n"))
      tot.join(broadcast(pairs), Seq("source"), "left")
        .join(rowm, "source").join(colm, "source")
        .select(col("source"), col("n"),
          coalesce(col("nc"), lit(0)).cast("decimal(38,0)").as("n_conc"),
          coalesce(col("nd"), lit(0)).cast("decimal(38,0)").as("n_disc"),
          col("tr"), col("tc"))
        .select(col("source"), col("n"),
          // nc/nd OUTPUT as double (r13 ADVICE: a LONG cast would
          // silently null in Spark / error in DuckDB exactly past the
          // ~3e9-docs/source scale the DECIMAL bridge exists for —
          // decimal→double and HUGEINT→double both round IEEE-nearest,
          // so the engines stay in lockstep at any scale; tau_b itself
          // is computed from the exact decimals, never these outputs)
          col("n_conc").cast("double").as("nc"), col("n_disc").cast("double").as("nd"),
          when(expr("cast(n as decimal(38,0)) * (n - 1) - tr") === lit(0) ||
               expr("cast(n as decimal(38,0)) * (n - 1) - tc") === lit(0),
            lit(null).cast("double"))
            .otherwise(round(
              expr("cast(2 * (n_conc - n_disc) as double)") /
              sqrt(expr("cast(cast(n as decimal(38,0)) * (n - 1) - tr as double)") *
                expr("cast(cast(n as decimal(38,0)) * (n - 1) - tc as double)")), 6))
            .as("tau_b"))
        .orderBy("source")
    }),

    // MANN-KENDALL TREND TEST on daily event volume (Mann 1945 /
    // Kendall 1975 — the nonparametric "is volume trending?" the ops
    // review asks before q208's forecast is trusted; distribution-free
    // where q177's Theil-Sen estimates the slope, this tests its
    // existence): S = Σ sign(v_b − v_a) over day pairs — the day
    // relation is aggregate-sized so the pair join is days² by
    // construction, never a corpus quadratic; the tie-corrected
    // variance stays the exact INTEGER 18·Var(S) = n(n−1)(2n+5) −
    // Σt(t−1)(2t+5); the continuity-corrected z is one identical
    // double expression both engines.
    "q212_mann_kendall" -> ((s, d) => {
      val days = t(s, d, "events")
        .select(date_format(timestamp_micros(tsMicros), "yyyy-MM-dd").as("day"))
        .groupBy("day").agg(count(lit(1)).as("v"))
        .ckptLazy // consumers: pair join, tie groups, count
      // explicitly-quadratic over the AGGREGATE-SIZED day relation
      // (days² pairs at any corpus size — the q177 slope-pair argument)
      val sStat = days.select(col("day").as("day_a"), col("v").as("va"))
        .crossJoin(days.select(col("day").as("day_b"), col("v").as("vb")))
        .where(col("day_a") < col("day_b"))
        .agg(sum(signum(col("vb") - col("va")).cast("long")).as("s_stat"))
      val n = days.agg(count(lit(1)).as("n_days"))
      val ties = days.groupBy("v").agg(count(lit(1)).as("tg"))
        .agg(sum(expr("cast(tg as decimal(38,0)) * (tg - 1) * (2 * tg + 5)")).as("tsum"))
      n.crossJoin(broadcast(sStat)).crossJoin(broadcast(ties))
        .select(col("n_days"), col("s_stat"),
          expr("cast(n_days as decimal(38,0)) * (n_days - 1) * (2 * n_days + 5) - tsum")
            .cast("decimal(38,0)").as("var18"))
        .select(col("n_days"), col("s_stat"), col("var18").cast("long").as("var18s"),
          when(col("var18") === lit(0), lit(null).cast("double"))
            .otherwise(round(
              when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
                .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
                .otherwise(lit(0.0)) /
              sqrt(col("var18").cast("double") / lit(18.0)), 6)).as("z"))
        .withColumnRenamed("var18s", "var18")
    }),

    // AUTOCORRELATION FUNCTION of daily event volume at lags 1..7
    // (Box & Jenkins 1970 — the dependence fingerprint that justifies
    // q204's weekly seasonal model: a 7-day cycle shows as an ACF peak
    // at lag 7): multiplying numerator and denominator by n² makes
    // every term exact — r_k = Σ(n·v_t−S)(n·v_{t+k}−S) / Σ(n·v_t−S)²
    // over DECIMAL(38,0)/HUGEINT products (n·v wraps BIGINT past ~9e5
    // days × 1e13 events); the idx window and the lag-k self-join run
    // on the aggregate-sized day relation; one identical double
    // division per lag, round-6.
    "q213_volume_acf" -> ((s, d) => {
      val days = t(s, d, "events")
        .select(date_format(timestamp_micros(tsMicros), "yyyy-MM-dd").as("day"))
        .groupBy("day").agg(count(lit(1)).as("v"))
        .withColumn("idx", row_number().over(Window.orderBy("day")))
        .ckptLazy // consumers: totals, den, 7 lag joins
      val tot = days.agg(count(lit(1)).as("n"), sum("v").as("sv"))
      val dev = days.crossJoin(broadcast(tot))
        .select(col("idx"), expr("cast(n as decimal(38,0)) * v - sv").as("dv"))
        .ckptLazy // consumers: den + lag join
      val den = dev.agg(sum(expr("dv * dv")).as("den"))
      val lags = (1 to 7).map { k =>
        dev.select(col("idx"), col("dv").as("dva"))
          .join(dev.select((col("idx") - k).as("idx"), col("dv").as("dvb")), "idx")
          .agg(lit(k).as("lag"), count(lit(1)).as("n_pairs"),
            sum(expr("dva * dvb")).as("num"))
      }.reduce(_ unionByName _)
      lags.crossJoin(broadcast(den))
        .select(col("lag"), col("n_pairs"),
          when(col("den") === lit(0), lit(null).cast("double"))
            .otherwise(round(col("num").cast("double") / col("den").cast("double"), 6))
            .as("acf"))
        .orderBy("lag")
    }),

    // REFERENTIAL-INTEGRITY PROFILE of the relational star (the
    // data-quality contract check every warehouse load runs before
    // joining: orphaned children, childless parents, fan-out envelope —
    // the profiling member q129's FD mining and q130's column profiles
    // don't cover because they look at one table at a time): per
    // (parent, child) edge, child rows aggregate to per-key fan-out
    // FIRST (partial-aggregated groupBy on the join key — child rows
    // never cross the shuffle raw), then ONE full-outer join against
    // the parent key set classifies every key as matched / orphan /
    // childless; all counts exact, mean fan-out a truncating micro
    // division with a DECIMAL(38,0) numerator. Generic over (parent,
    // pk, child, fk) — applied to orders→lineitem and customer→orders.
    "q214_referential_integrity" -> ((s, d) => {
      def profile(rel: String, parent: DataFrame, pk: String,
          child: DataFrame, fk: String): DataFrame = {
        val p = parent.select(col(pk).as("k")).withColumn("in_p", lit(1L))
        val fan = child.groupBy(col(fk).as("k")).agg(count(lit(1)).as("f"))
        p.join(fan, Seq("k"), "full_outer")
          .agg(
            coalesce(sum("in_p"), lit(0L)).as("n_parent"),
            coalesce(sum("f"), lit(0L)).as("n_child_rows"),
            coalesce(sum(when(col("in_p").isNull, col("f"))), lit(0L))
              .as("n_orphan_child_rows"),
            coalesce(sum(when(col("in_p").isNotNull && col("f").isNull, lit(1L))),
              lit(0L)).as("n_childless_parent"),
            coalesce(max(when(col("in_p").isNotNull, coalesce(col("f"), lit(0L)))),
              lit(0L)).as("max_fanout"))
          .select(lit(rel).as("relation"), col("n_parent"), col("n_child_rows"),
            col("n_orphan_child_rows"), col("n_childless_parent"), col("max_fanout"),
            when(col("n_parent") === 0, lit(null).cast("double"))
              .otherwise(expr("cast(((cast(n_child_rows as decimal(38,0)) - " +
                "n_orphan_child_rows) * 1000000) div n_parent as bigint)")
                .cast("double") / lit(1000000.0)).as("mean_fanout"))
      }
      profile("orders->lineitem", t(s, d, "orders"), "o_orderkey",
          t(s, d, "lineitem"), "l_orderkey")
        .unionByName(profile("customer->orders", t(s, d, "customer"), "c_custkey",
          t(s, d, "orders"), "o_custkey"))
        .orderBy("relation")
    }),

    // KOLMOGOROV-SMIRNOV two-sample distance of the quality
    // distribution, each source vs the REST of the corpus (Kolmogorov
    // 1933/Smirnov 1939 — the distribution-free "is this source's
    // quality profile different AT ALL?" that q198's binned PSI can
    // blur: KS is the sup over EVERY threshold, not 10 fixed bins).
    // Exact end to end via the r13 allowed-window argument: quality is
    // the micro integer qm = floor(q·1e6 + 0.5), the per-(source, qm)
    // histogram is ≤ 1e6·k rows at ANY corpus size, and the sup runs
    // over the distinct-qm spine — cdf differences cross-multiplied to
    // integers (|scum·(N−n_s) − rcum·n_s|, DECIMAL(38,0)/HUGEINT since
    // the products cross 2^63 past ~3e9 docs), so the max is an
    // order-free integer comparison and KS is one truncating micro
    // division. The few-key per-source window sits over the
    // aggregate-sized grid (an aggregate beneath — the PlanGuardSpec
    // two-level contract), never over raw docs.
    "q215_ks_two_sample" -> ((s, d) => {
      val hist = t(s, d, "documents")
        .select(col("source"),
          floor(TF.qualityScore(col("text")) * 1000000.0 + 0.5)
            .cast("long").as("qm"))
        .groupBy("source", "qm").agg(count(lit(1)).as("c"))
        .ckptLazy // consumers: per-source totals, global cum, grid
      val srcN = hist.groupBy("source").agg(sum("c").as("n_s"))
      val nTot = hist.agg(sum("c").as("n_tot"))
      val gcum = hist.groupBy("qm").agg(sum("c").as("cg"))
        .withColumn("gcum", sum("cg").over(Window.orderBy("qm")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val wS = Window.partitionBy("source").orderBy("qm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      broadcast(srcN).crossJoin(gcum.select("qm", "gcum"))
        .join(hist, Seq("source", "qm"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("scum", sum("c").over(wS))
        .crossJoin(broadcast(nTot))
        .withColumn("dnum", expr(
          "abs(cast(scum as decimal(38,0)) * (n_tot - n_s) - " +
            "cast(gcum - scum as decimal(38,0)) * n_s)"))
        .groupBy("source")
        .agg(max("n_s").as("n_docs"), max("dnum").as("dmax"),
          max(expr("cast(n_tot - n_s as decimal(38,0)) * n_s")).as("den"))
        .select(col("source"), col("n_docs"),
          when(col("den") === lit(0), lit(null).cast("double"))
            .otherwise(expr("cast((dmax * 1000000) div den as bigint)")
              .cast("double") / lit(1000000.0)).as("ks"))
        .orderBy("source")
    }),

    // ZIPF EXPONENT MLE per source (the discrete power-law MLE at
    // xmin=1, Clauset/Shalizi/Newman 2009 §3.5 continuous approximation
    // alpha = 1 + V / Σ ln f — the one-number summary of how head-heavy
    // a source's token distribution is; a template-generated or spammy
    // source shows a visibly steeper exponent than organic text, the
    // drill-down next to q200's scorecard): token frequencies are exact
    // integers from the partial-aggregated (source, token) groupBy — no
    // window anywhere near the Zipfian key — and the transcendental
    // crosses engines by the q149/q183 ln discipline: each ln f is
    // micro-scaled to BIGINT (round(ln(f)·1e6)) BEFORE summing, so the
    // vocab-sized sum is order-free integer arithmetic, and alpha is
    // one identical double expression over two exact integers.
    "q216_zipf_mle" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("f"))
        .groupBy("source")
        .agg(count(lit(1)).as("v_types"), sum("f").as("n_tokens"),
          sum(expr("cast(round(ln(cast(f as double)) * 1000000, 0) as bigint)"))
            .as("sl"))
        .select(col("source"), col("v_types"), col("n_tokens"),
          when(col("sl") === lit(0), lit(null).cast("double"))
            .otherwise(expr(
              "round(1.0 + cast(v_types as double) * 1000000.0 / cast(sl as double), 6)"))
            .as("alpha"))
        .orderBy("source")
    }),

    // HEAPS' LAW vocabulary-growth curve + exponent (Heaps 1978;
    // Herdan 1960 — V(n) ~ K·n^beta; the planning number behind "how
    // much NEW vocabulary does the next 10 TB buy?", and a corpus
    // whose beta collapses is recycling itself — the growth-side twin
    // of q199's coverage probes): the md5(doc_id) hex prefix gives the
    // canonical corpus order AND the checkpoint grid in one stroke
    // (the CorpusSharding shard-major-order-IS-global-order argument):
    // bucket b = first hex nibble, V at checkpoint b = tokens whose
    // FIRST bucket ≤ b — a vocab-sized min-aggregate, then a 16-row
    // cumulative window (aggregate-sized by construction). beta is the
    // log-log least-squares slope over the ≤16 checkpoints, every
    // operand an exact micro-scaled integer (the q149 ln bridge), the
    // slope one identical double expression over DECIMAL sums.
    "q217_heaps_law" -> ((s, d) => {
      val db = t(s, d, "documents")
        .select(col("doc_id"), col("text"), expr(
          "cast(conv(substr(md5(cast(cast(doc_id as string) as binary)), 1, 1), " +
            "16, 10) as bigint)").as("bucket"))
        .ckptLazy // consumers: doc counts, token first-bucket
      val newV = db.select(col("bucket"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("token").agg(min("bucket").as("fb"))
        .groupBy("fb").agg(count(lit(1)).as("nv"))
      val nd = db.groupBy("bucket").agg(count(lit(1)).as("ndc"))
      val wB = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pts = nd.join(newV.withColumnRenamed("fb", "bucket"), Seq("bucket"), "left")
        .na.fill(0L, Seq("nv"))
        .withColumn("n_docs_cum", sum("ndc").over(wB))
        .withColumn("vocab_cum", sum("nv").over(wB))
        .where(col("n_docs_cum") > 0 && col("vocab_cum") > 0)
        .select(col("bucket"), col("n_docs_cum"), col("vocab_cum"),
          expr("cast(round(ln(cast(n_docs_cum as double)) * 1000000, 0) as bigint)")
            .as("x"),
          expr("cast(round(ln(cast(vocab_cum as double)) * 1000000, 0) as bigint)")
            .as("y"))
        .ckptLazy // consumers: regression scalar + output rows
      val beta = pts.agg(count(lit(1)).as("k"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
          sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
        .select(when(
            expr("cast(k as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx")
              === lit(0), lit(null).cast("double"))
          .otherwise(expr(
            "round(cast(cast(k as decimal(38,0)) * sxy - " +
              "cast(sx as decimal(38,0)) * sy as double) / " +
              "cast(cast(k as decimal(38,0)) * sxx - " +
              "cast(sx as decimal(38,0)) * sx as double), 6)")).as("beta"))
      pts.select("bucket", "n_docs_cum", "vocab_cum")
        .crossJoin(broadcast(beta))
        .orderBy("bucket")
    }),

    // GOOD-TURING count-of-counts + discounted counts (Good 1953 — the
    // frequency-of-frequencies table that prices the UNSEEN: r* =
    // (r+1)·N_{r+1}/N_r and the missing mass P0 = N_1/N, the smoothing
    // family KN (q174) descends from, and on a corpus report the
    // "how much of this source is hapax noise?" row): everything below
    // the token histogram is count-of-counts-sized (≤ max frequency
    // rows), the r↔r+1 attach is a broadcast self-join of that tiny
    // relation, and r*/P0 are truncating micro divisions of exact
    // integers — no float until the final division.
    "q218_good_turing" -> ((s, d) => {
      val cc = t(s, d, "documents")
        .select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("f"))
        .groupBy("f").agg(count(lit(1)).as("n_r"))
        .ckptLazy // consumers: totals, r rows, r+1 attach
      val tot = cc.agg(sum(expr("cast(f as decimal(38,0)) * n_r"))
          .cast("decimal(38,0)").as("n_tok"),
        coalesce(sum(when(col("f") === 1, col("n_r"))), lit(0L)).as("n1"))
      // the 10 SMALLEST observed frequencies (a fixed `r <= 10` grid can
      // be empty on a dense-vocabulary corpus — the fixture's every
      // token recurs >10 times); TakeOrdered over the count-of-counts
      cc.orderBy("f").limit(10)
        .join(broadcast(cc.select((col("f") - 1).as("f"), col("n_r").as("n_r1"))),
          Seq("f"), "left")
        .na.fill(0L, Seq("n_r1"))
        .crossJoin(broadcast(tot))
        .select(col("f").as("r"), col("n_r"), col("n_r1"),
          (expr("cast(((f + 1) * cast(n_r1 as decimal(38,0)) * 1000000) " +
            "div n_r as bigint)").cast("double") / lit(1000000.0)).as("r_star"),
          (expr("cast((cast(n1 as decimal(38,0)) * 1000000) div n_tok as bigint)")
            .cast("double") / lit(1000000.0)).as("p_unseen"))
        .orderBy("r")
    }),

    // SPLIT-CONFORMAL COVERAGE of the quality score (Vovk 2005;
    // Papadopoulos 2002 — the distribution-free guarantee check: pick
    // tau as the ⌈0.9(n+1)⌉-th smallest calibration score and the
    // test-set fraction ≥ tau must be ~0.9 REGARDLESS of the score's
    // distribution; a miss means the calibration/test split is not
    // exchangeable — i.e. the corpus drifted between splits, the
    // actionable reading): the md5(doc_id) split is the deterministic
    // q46 recipe, tau is EXACT integer percentile selection over the
    // calibration qm histogram (the r13 distinct-round-6-values window
    // argument — never a rank over raw docs), and coverage is one
    // truncating micro division.
    "q219_conformal_coverage" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(
          floor(TF.qualityScore(col("text")) * 1000000.0 + 0.5)
            .cast("long").as("qm"),
          (expr("cast(conv(substr(md5(cast(cast(doc_id as string) as binary)), " +
            "1, 1), 16, 10) as bigint)") < 8).as("is_cal"))
        .groupBy("qm", "is_cal").agg(count(lit(1)).as("c"))
        .ckptLazy // consumers: calibration cum, test coverage, totals
      // coalesce to 0, mirroring the oracle's coalesce(...,0): a corpus
      // whose md5-nibble split leaves one side empty must not emit a
      // dtype-strict NULL-vs-0 mismatch (r14 ADVICE).
      val nCal = docs.where(col("is_cal"))
        .agg(coalesce(sum("c"), lit(0L)).as("n_cal"))
      val wQ = Window.orderBy("qm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tau = docs.where(col("is_cal"))
        .withColumn("cum", sum("c").over(wQ))
        .crossJoin(broadcast(nCal))
        .where(col("cum") >= expr("(9 * (n_cal + 1) + 9) div 10"))
        .agg(min("qm").as("tau_m"))
      val test = docs.where(!col("is_cal"))
        .crossJoin(broadcast(tau))
        .agg(coalesce(sum("c"), lit(0L)).as("n_test"),
          coalesce(sum(when(col("qm") >= col("tau_m"), col("c"))), lit(0L))
            .as("n_cov"))
      nCal.crossJoin(broadcast(test)).crossJoin(broadcast(tau))
        .select(col("n_cal"), col("n_test"),
          (col("tau_m").cast("double") / lit(1000000.0)).as("tau"),
          lit(0.9).as("target"),
          when(col("n_test") === 0, lit(null).cast("double"))
            .otherwise(expr("cast((n_cov * 1000000) div n_test as bigint)")
              .cast("double") / lit(1000000.0)).as("coverage"))
    }),

    // LLM WATERMARK DETECTION (Kirchenbauer et al. 2023, the green-list
    // z-test — THE synthetic-text screen a training pipeline runs now
    // that model output is in every crawl: with gamma = 1/2 a doc's
    // green-token fraction is Binomial(T, 1/2) under H0, z = (2g−T)/√T,
    // and a watermarked doc stands many sigma out): the green list is
    // the md5 parity of the token (the PortableHash convention — the
    // same deterministic hash both engines), g and T are exact
    // per-doc integers from ONE partial-aggregated pass (doc_id is the
    // allowed N-key aggregation, never a window), the z is micro-scaled
    // to an integer BEFORE the top-50 selection so the TakeOrdered ties
    // break on integers (the no-float-order rule).
    "q220_watermark_detect" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .select(col("doc_id"), (expr(
          "cast(conv(substr(md5(cast(token as binary)), 1, 15), 16, 10) as bigint)")
          % 2 === 0).cast("long").as("is_green"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("is_green").as("n_green"))
        .where(col("n_tokens") > 0)
        .withColumn("zm", expr(
          "cast(round((2.0 * n_green - n_tokens) / sqrt(cast(n_tokens as double)) " +
            "* 1000000, 0) as bigint)"))
        .orderBy(col("zm").desc, col("doc_id")).limit(50)
        .select(col("doc_id"), col("n_tokens"), col("n_green"),
          (col("zm").cast("double") / lit(1000000.0)).as("z_green"))
    }),

    // CRAMER'S V of source × language (Cramér 1946 — the normalized
    // effect size on top of q184's chi-square machinery: chi² grows
    // with N, V ∈ [0,1] answers "HOW entangled are source and language",
    // the one-number multilingual-mix summary): q184's exact integer
    // recipe per cell (em = (ns·nc·1e6) div N, contrib = diffm² div em,
    // DECIMAL/HUGEINT), then — the step q184 deliberately left to the
    // reader — the chi² TOTAL as an exact INTEGER sum of the per-cell
    // micro contributions (order-free, unlike a float sum), and V one
    // identical double expression.
    "q221_cramers_v" -> ((s, d) => {
      val cells = t(s, d, "documents")
        .groupBy("source", "lang").agg(count(lit(1)).as("o"))
        .ckptLazy // consumers: margins, N, cells
      val ns = cells.groupBy("source").agg(sum("o").as("ns"))
      val nc = cells.groupBy("lang").agg(sum("o").as("nc"))
      val nt = cells.agg(sum("o").as("n_total"),
        count_distinct(col("source")).as("r_levels"),
        count_distinct(col("lang")).as("c_levels"))
      cells.join(broadcast(ns), "source").join(broadcast(nc), "lang")
        .crossJoin(broadcast(nt))
        .withColumn("em", expr(
          "cast((cast(ns as decimal(38,0)) * nc * 1000000) div n_total as bigint)"))
        .withColumn("contrib_micro", expr(
          "cast((cast(o * 1000000 - em as decimal(38,0)) * (o * 1000000 - em)) " +
            "div em as bigint)"))
        .groupBy("n_total", "r_levels", "c_levels")
        .agg(sum("contrib_micro").as("chi2_micro"))
        .select(col("n_total"), col("r_levels"), col("c_levels"),
          (col("chi2_micro").cast("double") / lit(1000000.0)).as("chi2"),
          when(least(col("r_levels"), col("c_levels")) <= 1,
            lit(null).cast("double"))
            .otherwise(expr(
              "round(sqrt(cast(chi2_micro as double) / 1000000.0 / " +
                "cast(n_total as double) / " +
                "cast(least(r_levels, c_levels) - 1 as double)), 6)")).as("v"))
    }),

    // BROWN-FORSYTHE variance homogeneity across sources (Brown &
    // Forsythe 1974 — the robust Levene: q210's ANOVA compares MEANS
    // and silently assumes equal variances; this tests that assumption
    // on |q − median| and is the standard pre-check before trusting
    // q210's F): per-source medians are EXACT integer percentile
    // selections over the qm histogram (the r13 selection discipline —
    // the few-key window sits over the aggregate-sized histogram), the
    // centered deviations zm = |qm − med| are exact integers, and the F
    // on them is q210's driver BigInt fold verbatim (k-scalar moments;
    // per-group z-sum squares cross 2^63 past ~1e6 docs/source, BigInt
    // has no ceiling and matches the oracle's HUGEINT //).
    "q222_brown_forsythe" -> ((s, d) => {
      import s.implicits._
      val qs = t(s, d, "documents")
        .select(col("source"),
          floor(TF.qualityScore(col("text")) * 1000000.0 + 0.5)
            .cast("long").as("qm"))
        .ckptLazy // consumers: histogram/median, deviation pass
      val hist = qs.groupBy("source", "qm").agg(count(lit(1)).as("c"))
        .ckptLazy // consumers: totals + cum
      val nS = hist.groupBy("source").agg(sum("c").as("n_s"))
      val wS = Window.partitionBy("source").orderBy("qm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = hist.withColumn("cum", sum("c").over(wS))
        .join(broadcast(nS), "source")
        .where(col("cum") * 2 >= col("n_s"))
        .groupBy("source").agg(min("qm").as("med"))
      val g = qs.join(broadcast(med), "source")
        .select(col("source"), abs(col("qm") - col("med")).as("zm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("zm").as("sz"),
          sum(expr("cast(zm as decimal(38,0)) * zm")).as("zz"))
        .collect()
        .map(r => (BigInt(r.getLong(1)), BigInt(r.getLong(2)),
          BigInt(r.getDecimal(3).toBigInteger)))
      require(g.nonEmpty, "no documents")
      val M = BigInt(1000000)
      val k = BigInt(g.length)
      val n = g.map(_._1).sum
      val sTot = g.map(_._2).sum
      val zTot = g.map(_._3).sum
      val wSum = g.map { case (ni, si, _) => (si * si * M) / ni }.sum
      val ssb = wSum - (sTot * sTot * M) / n
      val ssw = zTot * M - wSum
      val f =
        if (ssw == 0 || k <= 1) None
        else Some(BigDecimal((ssb * (n - k)).toDouble / (ssw * (k - 1)).toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      Seq((k.toLong, n.toLong, ssb.toDouble / 1e6, ssw.toDouble / 1e6, f))
        .toDF("k_groups", "n_docs", "ssb_z", "ssw_z", "f_bf")
    }),

    // BENFORD FIRST-DIGIT AUDIT of line-item prices (Benford 1938 /
    // Newcomb 1881 — the forensic data-quality screen: organically
    // generated magnitudes follow P(d) = log10(1+1/d); a synthetic or
    // truncated feed shows up as a flat or spiked digit histogram):
    // prices become exact integer cents via the floor(x·100+0.5) idiom
    // (round() diverges on .5 boundaries — CLAUDE.md), the leading
    // digit is a STRING head over the bigint (deterministic both
    // engines — no float log10 boundary), observed fractions and the
    // mean absolute deviation are truncating micro divisions of exact
    // counts, and the Benford expectation is one identical rounded
    // double expression per digit.
    "q223_benford_prices" -> ((s, d) => {
      val digits = t(s, d, "lineitem")
        .select(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"))
        .where(col("cents") > 0)
        .select(expr("cast(substr(cast(cents as string), 1, 1) as bigint)")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
        .ckptLazy // consumers: total, rows, mad
      val tot = digits.agg(sum("n_obs").as("n_total"))
      val rows = digits.crossJoin(broadcast(tot))
        .withColumn("obs_ppm", expr("cast((n_obs * 1000000) div n_total as bigint)"))
        .withColumn("exp_ppm", expr(
          "cast(round(log10(1.0 + 1.0 / cast(digit as double)) * 1000000, 0) as bigint)"))
        .ckptLazy // consumers: output, mad scalar
      val mad = rows.agg((expr("cast(sum(abs(obs_ppm - exp_ppm)) div 9 as bigint)")
        .cast("double") / lit(1000000.0)).as("mad"))
      rows.crossJoin(broadcast(mad))
        .select(col("digit"), col("n_obs"),
          (col("obs_ppm").cast("double") / lit(1000000.0)).as("obs_frac"),
          (col("exp_ppm").cast("double") / lit(1000000.0)).as("benford_frac"),
          col("mad"))
        .orderBy("digit")
    }),

    // HYPERLOGLOG DISTINCT-COUNT AUDIT per source (Flajolet et al.
    // 2007 — the sketch every 100 TB cardinality question actually
    // runs; here built DETERMINISTICALLY so the estimate itself is
    // cross-engine oracled, and scored against the exact distinct so
    // the sketch's error is DATA, the q140/q156/q172
    // approximation-error-as-data theme): 60-bit md5 token hashes (the
    // PortableHash convention), m = 64 registers — bucket = top 6 bits,
    // rank = leading-zeros-in-54-bits + 1 via the minimal-width bin()
    // string length (identical in Spark and DuckDB, no float log2
    // boundary), registers are a partial-aggregated max per (source,
    // bucket) — HLL over instances EQUALS HLL over distincts, no dedup
    // pass needed — and the harmonic sum is EXACT: Σ 2^(55−M_j) as
    // BIGINT (≤ 64·2^55 < 2^63), estimate and relative error one
    // identical double expression each.
    "q224_hll_audit" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
        .select(col("source"), col("token"), expr(
          "cast(conv(substr(md5(cast(token as binary)), 1, 15), 16, 10) as bigint)")
          .as("h"))
        .ckptLazy // consumers: registers, exact distinct
      val regs = tf
        .select(col("source"), expr("h div 18014398509481984").as("bucket"),
          expr("case when h % 18014398509481984 = 0 then 55 " +
            "else 55 - length(bin(h % 18014398509481984)) end").as("rank"))
        .groupBy("source", "bucket").agg(max("rank").as("m"))
      val spine = tf.select("source").distinct()
        .select(col("source"), explode(expr("sequence(0, 63)")).as("bucket"))
      val sSum = spine.join(regs, Seq("source", "bucket"), "left")
        .na.fill(0L, Seq("m"))
        .groupBy("source")
        .agg(sum(expr("shiftleft(cast(1 as bigint), cast(55 - m as int))")).as("hsum"))
      val exact = tf.select("source", "token").distinct()
        .groupBy("source").agg(count(lit(1)).as("n_distinct"))
      exact.join(broadcast(sSum), "source")
        .select(col("source"), col("n_distinct"),
          expr(s"round($hllNumerator / cast(hsum as double), 6)")
            .as("hll_estimate"),
          expr(s"round(($hllNumerator / cast(hsum as double) - n_distinct) / " +
            "cast(n_distinct as double), 6)").as("rel_err"))
        .orderBy("source")
    }),

    // DSIR IMPORTANCE WEIGHTS (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling" — THE modern "select
    // pretraining data that looks like the good data" move): target =
    // the high-quality slice (round-6 q ≥ 0.8, the q44 gate), features
    // = tokens hashed into 128 buckets (md5, the PortableHash
    // convention), per-bucket log-ratio r_b = ln((ct+1)(C+128) /
    // ((cc+1)(T+128))) — an EXACT integer rational inside the ln,
    // micro-scaled to BIGINT before any sum (the q149 discipline) — and
    // each doc's log-weight is the exact integer Σ count·r_b via a
    // 128-row broadcast ratio table (the r11 LUT-as-relation rule).
    // Top-25 by integer weight via TakeOrdered; no window anywhere.
    "q225_dsir_weights" -> ((s, d) => {
      // r15: the fused TokenBucketKernel replaces explode + per-token
      // md5 + two token-grain groupBys (the dsirDocGrain optimization,
      // same kernel, same ratio helper) — doc-grain from the first
      // projection, zero token-sized exchanges; the r14 lesson about
      // the quality score sharing a select with an explode is moot
      // because there is no explode left
      val base = t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          (round(TF.qualityScore(col("text")), 6) >= 0.8).as("is_target"),
          dsirBucketsUdf(col("text")).as("cs"))
        .ckptLazy // consumers: fused bucket-sums agg, per-doc weights
      base.crossJoin(broadcast(dsirRatioVec(s, base)))
        .select(col("doc_id"),
          vecSumUdf(col("cs")).as("n_tokens"),
          vecDotUdf(col("cs"), col("rs")).as("wm"))
        .orderBy(col("wm").desc, col("doc_id")).limit(25)
        .select(col("doc_id"), col("n_tokens"),
          (col("wm").cast("double") / lit(1000000.0)).as("log_weight"))
    }),

    // SOURCE-LEVEL MINHASH JACCARD AUDIT (Broder 1997 — the q26 doc
    // sketch lifted to SOURCE grain, scored against the exact overlap
    // so the sketch error is DATA, the q224 theme): each source's
    // distinct-token set gets the engine's own 64-permutation signature
    // ((a_i·h+b_i) mod P over md5-32 hashes — MinHashSignature's exact
    // constants, bit-reproducible in SQL), est-Jaccard = matching
    // components / 64 vs exact |A∩B|/|A∪B|. Everything after the
    // distinct (source, token) projection is vocab-bounded (×64 for the
    // signature pass) or k²-sized; the per-token pair fan-out is ≤ k²
    // per token by construction.
    "q226_source_minhash_jaccard" -> ((s, d) => {
      import graft.plans.MinHashSignature.{coeffA, coeffB, P}
      val hs = t(s, d, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
        .select(col("source"), expr(
          "cast(conv(substr(md5(cast(token as binary)), 1, 8), 16, 10) as bigint)")
          .as("h"))
        .distinct()
        .ckptLazy // consumers: signature pass, sizes, intersections
      val perms = s.createDataFrame(
        (0 until 64).map(i => (i, coeffA(i), coeffB(i)))).toDF("i", "pa", "pb")
      val sig = hs.crossJoin(broadcast(perms))
        .groupBy("source", "i")
        .agg(min(expr(s"(pa * h + pb) % ${P}L")).as("mh"))
      val est = sig.select(col("source").as("source_a"), col("i"), col("mh").as("ma"))
        .join(broadcast(sig.select(col("source").as("source_b"), col("i"),
          col("mh").as("mb"))), "i")
        .where(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("n_match"))
      val sizes = hs.groupBy("source").agg(count(lit(1)).as("nh"))
      val inter = hs.select(col("source").as("source_a"), col("h"))
        .join(hs.select(col("source").as("source_b"), col("h")), "h")
        .where(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("ni"))
      est
        .join(broadcast(sizes.select(col("source").as("source_a"), col("nh").as("na"))),
          "source_a")
        .join(broadcast(sizes.select(col("source").as("source_b"), col("nh").as("nb"))),
          "source_b")
        .join(broadcast(inter), Seq("source_a", "source_b"), "left")
        .na.fill(0L, Seq("ni"))
        .select(col("source_a"), col("source_b"), col("na"), col("nb"),
          (expr("cast(ni * 1000000 div (na + nb - ni) as bigint)")
            .cast("double") / lit(1000000.0)).as("j_exact"),
          (expr("cast(n_match * 1000000 div 64 as bigint)")
            .cast("double") / lit(1000000.0)).as("j_est"))
        .withColumn("abs_err", abs(round(col("j_est") - col("j_exact"), 6)))
        .orderBy("source_a", "source_b")
    }),

    // CROSS-SOURCE EXACT-DUPLICATE MATRIX (the provenance drill-down of
    // q21: WHICH source pairs share content — mirror sites, syndication,
    // template reuse — read next to q109's n-gram contamination and
    // q209's stylometry): distinct (content_hash, source), self-joined
    // per hash — the fan-out is ≤ k² PER HASH at any corpus size (the
    // q211 bounded-cell argument), so the pair relation stays linear in
    // distinct hashes; overlap Jaccard is the truncating micro division.
    "q227_cross_source_dups" -> ((s, d) => {
      val hs = t(s, d, "documents")
        .select(md5(col("text")).as("ch"), col("source"))
        .distinct()
        .ckptLazy // consumers: sizes, pair intersections
      val sizes = hs.groupBy("source").agg(count(lit(1)).as("nh"))
      hs.select(col("source").as("source_a"), col("ch"))
        .join(hs.select(col("source").as("source_b"), col("ch")), "ch")
        .where(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.select(col("source").as("source_a"), col("nh").as("na"))),
          "source_a")
        .join(broadcast(sizes.select(col("source").as("source_b"), col("nh").as("nb"))),
          "source_b")
        .select(col("source_a"), col("source_b"), col("na"), col("nb"), col("n_shared"),
          (expr("cast(n_shared * 1000000 div (na + nb - n_shared) as bigint)")
            .cast("double") / lit(1000000.0)).as("overlap_jaccard"))
        .orderBy("source_a", "source_b")
    }),

    // N-GRAM NOVELTY CURVE over corpus order (the q217 Heaps machinery
    // at TRIGRAM grain — the memorization/diversity planning read: a
    // corpus whose buckets stop contributing new trigram types is
    // recycling itself at phrase level even when its token vocabulary
    // still grows): md5(doc_id) nibble = canonical order + 16
    // checkpoints; per-bucket distinct trigram types present vs types
    // whose FIRST bucket is this one (a vocab-sized min-aggregate);
    // novelty the truncating micro division. Trigram hashes ride the
    // fused ShingleKernel (md5-32 of the shingle string — the exact
    // convention the shSql oracle fragment reproduces).
    "q229_ngram_novelty" -> ((s, d) => {
      val shUdf = udf((text: String) =>
        graft.functions.ShingleKernel.md5ShingleSet(text, 3))
      val dh = t(s, d, "documents")
        .select(expr(
          "cast(conv(substr(md5(cast(cast(doc_id as string) as binary)), 1, 1), " +
            "16, 10) as bigint)").as("bucket"),
          explode(shUdf(col("text"))).as("h"))
        .distinct()
        .ckptLazy // consumers: present-type counts, first-bucket mins
      val present = dh.groupBy("bucket").agg(count(lit(1)).as("n_types_present"))
      val fresh = dh.groupBy("h").agg(min("bucket").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_new_types"))
      present.join(broadcast(fresh), Seq("bucket"), "left")
        .na.fill(0L, Seq("n_new_types"))
        .select(col("bucket"), col("n_types_present"), col("n_new_types"),
          (expr("cast(n_new_types * 1000000 div n_types_present as bigint)")
            .cast("double") / lit(1000000.0)).as("novelty"))
        .orderBy("bucket")
    }),

    // PAIRWISE JENSEN-SHANNON DIVERGENCE of length profiles between
    // sources (Lin 1991 — the symmetric, always-finite divergence the
    // mixture-weighting family (q59/q88/q173) wants as its distance
    // input; KS (q215) asks "are they different", JSD gives the metric
    // the mixture optimizer consumes): lengths drop into FIXED
    // bit-length buckets (length(bin(toks)) — the windowless fixed-grid
    // move, ≤ ~40 bins ever), and each per-bin KL term p·ln(p/m) is ONE
    // identical double expression over exact integer counts micro-scaled
    // to BIGINT before the ≤40-term sum (the q149 no-float-sum rule);
    // the pair×bin grid is k²·bins rows at any corpus size.
    "q230_length_jsd" -> ((s, d) => {
      val hist = t(s, d, "documents")
        .select(col("source"),
          length(bin(greatest(TF.bpeTokenCount(col("text")).cast("long"), lit(1L))))
            .cast("long").as("lb"))
        .groupBy("source", "lb").agg(count(lit(1)).as("c"))
        .ckptLazy // consumers: sizes, spine, both grid sides
      val sizes = hist.groupBy("source").agg(sum("c").as("n"))
      val spine = hist.select("lb").distinct()
      val grid = sizes.select(col("source").as("source_a"), col("n").as("na"))
        .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("nb"))),
          col("source_a") < col("source_b"))
        .crossJoin(broadcast(spine))
        .join(hist.select(col("source").as("source_a"), col("lb"), col("c").as("ca")),
          Seq("source_a", "lb"), "left")
        .join(hist.select(col("source").as("source_b"), col("lb"), col("c").as("cb")),
          Seq("source_b", "lb"), "left")
        .na.fill(0L, Seq("ca", "cb"))
      grid
        .withColumn("ta", when(col("ca") > 0, expr(
          "cast(round(cast(ca as double) * ln(2.0 * ca * nb / " +
            "(cast(ca as double) * nb + cast(cb as double) * na)) / na " +
            "* 1000000, 0) as bigint)")).otherwise(lit(0L)))
        .withColumn("tb", when(col("cb") > 0, expr(
          "cast(round(cast(cb as double) * ln(2.0 * cb * na / " +
            "(cast(ca as double) * nb + cast(cb as double) * na)) / nb " +
            "* 1000000, 0) as bigint)")).otherwise(lit(0L)))
        .groupBy("source_a", "source_b")
        .agg(count(when(col("ca") + col("cb") > 0, 1)).as("n_bins"),
          sum("ta").as("sa"), sum("tb").as("sb"))
        .select(col("source_a"), col("source_b"), col("n_bins"),
          // JSD ≥ 0 by definition; the micro-rounded per-bin terms can
          // sum to a tiny negative on near-identical profiles, where
          // Spark's div (toward zero) and DuckDB's // (floor) diverge —
          // clamp at 0 BEFORE the halving division on both engines
          (expr("greatest(sa + sb, 0L) div 2").cast("double")
            / lit(1000000.0)).as("jsd_nats"))
        .orderBy("source_a", "source_b")
    }),

    // MEMORIZATION-RISK SCORE per document (the doc-grain read of
    // q196's corpus-level repeated-n-gram probe — Carlini et al. 2022's
    // observation that verbatim-repeated spans drive memorization: a
    // doc composed of trigrams that each recur in ≥10 docs is
    // boilerplate/template material the dedup family may still have
    // missed): distinct trigram hashes per doc (fused ShingleKernel),
    // per-trigram doc counts by partial-aggregated groupBy (never a
    // window on the Zipfian key — the q76 shape), common-set join-back,
    // per-doc fraction an exact micro integer, top-25 via TakeOrdered
    // on the integer key.
    "q231_memorization_risk" -> ((s, d) => {
      val shUdf = udf((text: String) =>
        graft.functions.ShingleKernel.md5ShingleSet(text, 3))
      val dt = t(s, d, "documents")
        .select(col("doc_id"), explode(shUdf(col("text"))).as("h"))
        .distinct() // 32-bit collisions WITHIN a doc dedup exactly like
                    // the oracle's DISTINCT (doc_id, h)
        .ckptLazy // consumers: per-trigram doc counts, per-doc join-back
      val common = dt.groupBy("h").agg(count(lit(1)).as("nd"))
        .where(col("nd") >= 10).select(col("h"), lit(1L).as("is_common"))
      dt.join(common, Seq("h"), "left")
        .na.fill(0L, Seq("is_common"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"), sum("is_common").as("n_common"))
        .withColumn("riskm",
          expr("cast(n_common * 1000000 div n_trigrams as bigint)"))
        .orderBy(col("riskm").desc, col("doc_id")).limit(25)
        .select(col("doc_id"), col("n_trigrams"), col("n_common"),
          (col("riskm").cast("double") / lit(1000000.0)).as("risk"))
    }),

    // MAXIMUM MEAN DISCREPANCY between embedding label groups (Gretton
    // et al. 2012 — THE kernel two-sample test; with polynomial kernels
    // it has a CLOSED FORM over moment aggregates: linear-kernel MMD² =
    // ||μ_a − μ_b||², quadratic-kernel MMD² = ||M_a/n_a − M_b/n_b||²_F
    // for the second-moment matrix M = Σxxᵀ — so "did the encoder/
    // domain drift between groups?" needs only per-group mean vectors
    // and D×D moment matrices, both ONE partial-aggregated pass, never
    // a pairwise kernel sum): per-dim/per-cell differences are EXACT
    // cross-multiplied DECIMAL integers (Ma·nb − Mb·na), each squared
    // term is micro-scaled to BIGINT as ONE identical double expression
    // before the order-free integer sum (the q149/q230 rule — and the
    // double square also sidesteps the DECIMAL(38) ceiling the exact
    // square would hit past ~1e9 vectors); everything after the moment
    // pass is (labels² × D²)-sized.
    "q234_embedding_mmd" -> ((s, d) => {
      val uv = t(s, d, "embeddings")
        .select(col("label").cast("long").as("g"),
          Similarity.quantized(col("embedding")).as("q"))
        .ckptLazy // consumers: mean pass, moment pass
      val means = uv.select(col("g"), posexplode(col("q")).as(Seq("pos", "vq")))
        .groupBy("g", "pos").agg(count(lit(1)).as("n"), sum("vq").as("sv"))
        .ckptLazy // consumers: both pair sides
      // fused moment pass (r14 verdict #5): the double posexplode fanned
      // every embedding out to D² = 4,096 rows BEFORE partial aggregation;
      // the TypedImperativeAggregate computes the symmetric outer-product
      // sum in one primitive loop per row and ships ONE D²-long partial
      // per (group × partition) — cell values identical to sum(xi*xj), so
      // the oracle is unchanged. The D²-row unpack below is per GROUP
      // (labels × 4,096), aggregate-sized at any corpus size.
      val dim = uv.select(size(col("q"))).head().getInt(0)
      val moments = uv.groupBy("g")
        .agg(graft.plans.VecAggs.outerProductSum(s, "q").as("mm"))
        .select(col("g"), posexplode(col("mm")).as(Seq("idx", "m")))
        .select(col("g"), expr(s"cast(idx div $dim as int)").as("i"),
          expr(s"cast(idx % $dim as int)").as("j"), col("m"))
        .ckptLazy // consumers: both pair sides
      val lin = means.select(col("g").as("g_a"), col("pos"),
          col("n").as("na"), col("sv").as("sa"))
        .join(broadcast(means.select(col("g").as("g_b"), col("pos"),
          col("n").as("nb"), col("sv").as("sb"))), "pos")
        .where(col("g_a") < col("g_b"))
        .groupBy("g_a", "g_b")
        .agg(max("na").as("n_a"), max("nb").as("n_b"),
          sum(expr(
            "cast(round(pow(cast(cast(sa as decimal(38,0)) * nb - " +
              "cast(sb as decimal(38,0)) * na as double) / " +
              "(cast(na as double) * nb * 1024.0), 2) * 1000000, 0) as bigint)"))
            .as("lm"))
      val quad = moments.select(col("g").as("g_a"), col("i"), col("j"),
          col("m").as("ma"))
        .join(broadcast(moments.select(col("g").as("g_b"), col("i"), col("j"),
          col("m").as("mb"))), Seq("i", "j"))
        .where(col("g_a") < col("g_b"))
        .join(broadcast(means.groupBy("g").agg(max("n").as("n"))
          .select(col("g").as("g_a"), col("n").as("na"))), "g_a")
        .join(broadcast(means.groupBy("g").agg(max("n").as("n"))
          .select(col("g").as("g_b"), col("n").as("nb"))), "g_b")
        .groupBy("g_a", "g_b")
        .agg(sum(expr(
          "cast(round(pow(cast(cast(ma as decimal(38,0)) * nb - " +
            "cast(mb as decimal(38,0)) * na as double) / " +
            "(cast(na as double) * nb * 1048576.0), 2) * 1000000, 0) as bigint)"))
          .as("qm"))
      lin.join(broadcast(quad), Seq("g_a", "g_b"))
        .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
          (col("lm").cast("double") / lit(1000000.0)).as("mmd2_linear"),
          (col("qm").cast("double") / lit(1000000.0)).as("mmd2_quadratic"))
        .orderBy("g_a", "g_b")
    }),

    // QUALITY-CLASSIFIER TRAINING (r14 verdict #3 — the fastText-style
    // quality filter Gopher/FineWeb/DCLM pipelines actually train):
    // fixed-round full-batch gradient descent over K=8 hashed
    // token-count features + bias, hard-sigmoid surrogate so the whole
    // loop is integer-exact on both engines (operator doc:
    // operators/QualityClassifier.scala — the BpeTrainer K-scalars
    // rule: weights are a 9-long driver BigInt scalar, each round ONE
    // partial-aggregated pass over the checkpointed doc-grain feature
    // table, no join/window/UDF). Output: the micro-scaled weight
    // trajectory (iter 0..3 × feature 0..8, bias last). Oracle unrolls
    // the 3 rounds as MATERIALIZED HUGEINT CTE chains.
    "q235_quality_lr_train" -> ((s, d) => {
      import s.implicits._
      val tr = operators.QualityClassifier.train(t(s, d, "documents"))
      val rows = for {
        (wr, r) <- tr.weights.zipWithIndex
        j <- 0 to operators.QualityClassifier.K
      } yield (r, j, wr(j).toDouble / 1000000.0)
      rows.toDF("iter", "j", "w").orderBy("iter", "j")
    }),

    // QUALITY-CLASSIFIER EVALUATION — the trained q235 model applied
    // back to its corpus: confusion counts at the pm >= 0.5 decision
    // boundary plus truncating-micro accuracy. Same trainer call (the
    // rounds are deterministic, so retraining IS the model registry);
    // the eval pass rides the trainer's checkpointed feature table.
    "q236_quality_lr_eval" -> ((s, d) => {
      val tr = operators.QualityClassifier.train(t(s, d, "documents"))
      val w = tr.weights.last
      tr.feat
        .select(expr(operators.QualityClassifier.pmSql(w)).as("pm"), col("ym"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pm") >= 500000L && col("ym") === 1000000L, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("pm") >= 500000L && col("ym") === 0L, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("pm") < 500000L && col("ym") === 1000000L, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("pm") < 500000L && col("ym") === 0L, 1L)
            .otherwise(0L)).as("tn"))
        .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
          (expr("cast(((tp + tn) * 1000000) div n as bigint)")
            .cast("double") / lit(1000000.0)).as("accuracy"))
    }),

    // DSIR END-TO-END RESAMPLED CORPUS (r14 verdict #4 — the
    // pipeline-level proof that the selection operators interoperate):
    // q225's per-doc importance log-weights over ALL docs → budgeted
    // top-weight selection keeping the highest-weight docs until 25% of
    // the token mass is spent (CorpusSharding.scoreBudgetPrefix — the
    // two-level descending-score prefix, bucket = the order's own
    // leading bits) → before/after drift scorecard (doc/token
    // retention, truncating-micro mean quality shift, per-language
    // token-share L1 drift). ONE corpus pass per stage: the
    // (doc,bucket) token table and the doc-grain weight table each ride
    // ckptLazy; every downstream table is aggregate-sized or doc-grain.
    // Integer end to end — no transcendental crosses the engines except
    // q225's established round-0 ln micro-ratio.
    "q237_dsir_resampled_drift" -> ((s, d) => {
      val docGrain = dsirDocGrain(s, d)
      val budget = docGrain.agg(expr("sum(n_tokens) div 4").as("budget"))
      // r15: the kept flag rides the selection pass itself
      // (scoreBudgetFlags with pass-through columns) — the former
      // kept-set left-join + na.fill over the doc grain is gone
      val flagged = operators.CorpusSharding.scoreBudgetFlags(
          docGrain, Seq("kept" -> col("wm")), col("n_tokens"),
          nBuckets = 256, budget,
          passThrough = Seq("lang", "qm", "n_tokens"))
        .ckptLazy // consumers: overall scorecard, language drift
      val overall = flagged.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept") === 1L, 1L).otherwise(0L)).as("n_docs_kept"),
        sum("n_tokens").as("n_tokens_total"),
        coalesce(sum(when(col("kept") === 1L, col("n_tokens"))), lit(0L))
          .as("n_tokens_kept"),
        sum("qm").as("sq"),
        coalesce(sum(when(col("kept") === 1L, col("qm"))), lit(0L)).as("sqk"))
      val l1 = flagged.groupBy("lang")
        .agg(sum("n_tokens").as("lt"),
          coalesce(sum(when(col("kept") === 1L, col("n_tokens"))), lit(0L))
            .as("ltk"))
        .crossJoin(broadcast(overall
          .select(col("n_tokens_total").as("tt"), col("n_tokens_kept").as("tk"))))
        .agg(sum(expr(
          "abs((ltk * 1000000) div tk - (lt * 1000000) div tt)")).as("l1m"))
      overall.crossJoin(broadcast(l1))
        .select(col("n_docs"), col("n_docs_kept"),
          col("n_tokens_total"), col("n_tokens_kept"),
          (expr("cast(sq div n_docs as bigint)").cast("double")
            / lit(1000000.0)).as("mean_q"),
          when(col("n_docs_kept") === 0L, lit(null).cast("double"))
            .otherwise(expr("cast(sqk div n_docs_kept as bigint)")
              .cast("double") / lit(1000000.0)).as("mean_q_kept"),
          (col("l1m").cast("double") / lit(1000000.0)).as("lang_l1_drift"))
    }),

    // QUALITY-CLASSIFIER CALIBRATION (the q180/q219 calibration theme
    // applied to the q235 model — a filter whose confidence doesn't
    // track its accuracy silently mis-budgets every downstream keep/
    // drop threshold): predicted pm bins into 16 FIXED widths (the r13
    // fixed-grid rule — never a quantile window over the corpus),
    // per-bin confidence = truncating-micro mean of pm (means of exact
    // operands via micro-scaled integer division), observed rate =
    // pos·1e6 div n, |gap| exact; ECE = the n-weighted mean gap as ONE
    // more truncating division over aggregate-sized rows. Everything
    // after the (already checkpointed) feature table is 16-row.
    "q238_quality_lr_calibration" -> ((s, d) => {
      val tr = operators.QualityClassifier.train(t(s, d, "documents"))
      val w = tr.weights.last
      val bins = tr.feat
        .select(expr(operators.QualityClassifier.pmSql(w)).as("pm"), col("ym"))
        .select(least(expr("pm div 62500"), lit(15L)).as("bin"),
          col("pm"), col("ym"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(when(col("ym") === 1000000L, 1L).otherwise(0L)).as("pos"),
          sum("pm").as("spm"))
        .withColumn("confm", expr("cast(spm div n as bigint)"))
        .withColumn("accm", expr("cast((pos * 1000000) div n as bigint)"))
        .ckptLazy // consumers: per-bin rows, ECE total
      val ece = bins
        .agg(expr("cast(sum(n * abs(confm - accm)) div sum(n) as bigint)")
          .as("ecem"))
      bins.crossJoin(broadcast(ece))
        .select(col("bin"), col("n"), col("pos"),
          (col("confm").cast("double") / lit(1000000.0)).as("confidence"),
          (col("accm").cast("double") / lit(1000000.0)).as("observed"),
          (col("ecem").cast("double") / lit(1000000.0)).as("ece"))
        .orderBy("bin")
    }),

    // SELECTION-BIAS AUDIT (what did importance selection CHANGE vs a
    // random sample of the same token budget? — the ablation a curation
    // pipeline runs before committing to DSIR): the SAME
    // scoreBudgetPrefix operator runs twice over the q237 doc grain,
    // once ordered by the importance weight and once by a uniform md5
    // hash (descending hash order IS the q46 deterministic random
    // order), same 25% token budget; the scorecard reads the quality
    // lift and the language-share L1 divergence BETWEEN the two kept
    // sets. Integer end to end.
    "q239_selection_bias_audit" -> ((s, d) => {
      val docGrain = dsirDocGrain(s, d)
      val budget = docGrain.agg(expr("sum(n_tokens) div 4").as("budget"))
      val hashScore = expr(
        "cast(conv(substr(md5(cast(cast(doc_id as string) as binary)), 1, 15), 16, 10) as bigint)")
      // r15: BOTH selections share one banded pass (one base checkpoint,
      // one combined extent aggregate) and emit their kept flags in
      // place — the two kept-set left-joins + na.fill are gone
      // (scoreBudgetFlags ≡ per-score scoreBudgetPrefix, ShardingSpec)
      val flagged = operators.CorpusSharding.scoreBudgetFlags(
          docGrain, Seq("k_dsir" -> col("wm"), "k_rand" -> hashScore),
          col("n_tokens"), nBuckets = 256, budget,
          passThrough = Seq("lang", "qm", "n_tokens"))
        .ckptLazy // consumers: overall scorecard, language L1
      val overall = flagged.agg(
        count(lit(1)).as("n_docs"),
        sum("k_dsir").as("n_dsir"), sum("k_rand").as("n_rand"),
        coalesce(sum(when(col("k_dsir") === 1L, col("n_tokens"))), lit(0L))
          .as("t_dsir"),
        coalesce(sum(when(col("k_rand") === 1L, col("n_tokens"))), lit(0L))
          .as("t_rand"),
        coalesce(sum(when(col("k_dsir") === 1L, col("qm"))), lit(0L)).as("sq_dsir"),
        coalesce(sum(when(col("k_rand") === 1L, col("qm"))), lit(0L)).as("sq_rand"))
      val l1 = flagged.groupBy("lang")
        .agg(coalesce(sum(when(col("k_dsir") === 1L, col("n_tokens"))), lit(0L))
            .as("ld"),
          coalesce(sum(when(col("k_rand") === 1L, col("n_tokens"))), lit(0L))
            .as("lr"))
        .crossJoin(broadcast(overall.select(col("t_dsir"), col("t_rand"))))
        .agg(sum(expr(
          "abs((ld * 1000000) div t_dsir - (lr * 1000000) div t_rand)")).as("l1m"))
      overall.crossJoin(broadcast(l1))
        .select(col("n_docs"), col("n_dsir"), col("n_rand"),
          col("t_dsir"), col("t_rand"),
          (expr("cast(sq_dsir div n_dsir as bigint)").cast("double")
            / lit(1000000.0)).as("mean_q_dsir"),
          (expr("cast(sq_rand div n_rand as bigint)").cast("double")
            / lit(1000000.0)).as("mean_q_rand"),
          (expr("cast(sq_dsir div n_dsir as bigint) - " +
            "cast(sq_rand div n_rand as bigint)").cast("double")
            / lit(1000000.0)).as("q_lift"),
          (col("l1m").cast("double") / lit(1000000.0)).as("lang_l1_selection"))
    }),

    // CONTAMINATION FIRST-SEEN ATTRIBUTION (the batch side of q227 —
    // per SOURCE, how much content did it originate vs re-ingest, and
    // from whom): per content hash the first arrival is min doc_id (the
    // replay's seq — min_by/arg_min, unique ids make the tie moot);
    // every later arrival classifies as same-source repeat or cross-
    // source contamination. One partial-aggregated groupBy per hash +
    // one equi-join back to the doc grain; window-free, pair-free.
    "q240_contamination_first_seen" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("ch"))
        .ckptLazy // consumers: first-arrival table, later-arrival join
      // ALL hashes, not only duplicated ones: a unique doc counts as
      // originating its content, so every source gets a row at every
      // corpus scale and the repeat columns read zero until dups exist
      val first = docs.groupBy("ch")
        .agg(min("doc_id").as("first_doc"),
          min_by(col("source"), col("doc_id")).as("first_source"))
      docs.join(first, Seq("ch"))
        .select(col("source"), col("doc_id"), col("first_doc"),
          col("first_source"))
        .groupBy("source")
        .agg(
          sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
            .as("n_originated"),
          sum(when(col("doc_id") =!= col("first_doc") &&
            col("source") === col("first_source"), 1L).otherwise(0L))
            .as("n_same_src_repeats"),
          sum(when(col("doc_id") =!= col("first_doc") &&
            col("source") =!= col("first_source"), 1L).otherwise(0L))
            .as("n_cross_src_ingests"))
        .orderBy("source")
    }),

    // PER-SOURCE CLASSIFIER-SCORE PROFILE (which sources does the q235
    // filter like? — the read a curation pipeline does before setting
    // per-source keep thresholds): trained pm per doc joined to its
    // source (doc-grain equi-join — the feature table deliberately
    // carries no provenance), 16 fixed pm bins per source, per-source
    // share and truncating-micro mean pm; everything after the two
    // doc-grain frames is (sources × 16)-sized.
    "q241_source_quality_profile" -> ((s, d) => {
      val tr = operators.QualityClassifier.train(t(s, d, "documents"))
      val w = tr.weights.last
      val src = t(s, d, "documents").select(col("doc_id"), col("source"))
      val grp = tr.feat
        .select(col("doc_id"), expr(operators.QualityClassifier.pmSql(w)).as("pm"))
        .join(src, "doc_id")
        .select(col("source"), least(expr("pm div 62500"), lit(15L)).as("bin"),
          col("pm"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n"), sum("pm").as("spm"))
        .ckptLazy // consumers: per-source totals, output rows
      val totals = grp.groupBy("source")
        .agg(sum("n").as("n_src"), sum("spm").as("spm_src"))
      grp.join(broadcast(totals), "source")
        .select(col("source"), col("bin"), col("n"),
          (expr("cast((n * 1000000) div n_src as bigint)").cast("double")
            / lit(1000000.0)).as("bin_share"),
          (expr("cast(spm_src div n_src as bigint)").cast("double")
            / lit(1000000.0)).as("mean_pm"))
        .orderBy("source", "bin")
    }),

    // FILTER-AGREEMENT McNEMAR TEST between the q235 trained classifier
    // and the q107 Gopher rule gate (the paired-decisions question —
    // "do my two quality filters disagree more than chance?" — asked
    // with the test built for paired binary decisions; McNemar 1947):
    // b = model-only keeps, c = gopher-only keeps, χ² = (b−c)²/(b+c) as
    // one DECIMAL/HUGEINT cross-multiplied truncating micro division
    // (the r13 overflow rule — (b−c)²·1e6 crosses 2^63 past ~3e6
    // discordant docs). Both decisions are deterministic integer
    // predicates, so the whole test is exact cross-engine.
    "q242_filter_agreement_mcnemar" -> ((s, d) => {
      val tr = operators.QualityClassifier.train(t(s, d, "documents"))
      val w = tr.weights.last
      val gates = t(s, d, "documents")
        .select(col("doc_id"), TF.gopherKeep(col("text")).as("gk"))
      tr.feat
        .select(col("doc_id"),
          (expr(operators.QualityClassifier.pmSql(w)) >= 500000L).as("mk"))
        .join(gates, "doc_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("mk") && col("gk"), 1L).otherwise(0L)).as("n_both"),
          sum(when(col("mk") && !col("gk"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("mk") && col("gk"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("mk") && !col("gk"), 1L).otherwise(0L)).as("n_neither"))
        .select(col("n"), col("n_both"), col("b"), col("c"), col("n_neither"),
          when(col("b") + col("c") === 0L, lit(null).cast("double"))
            .otherwise(expr(
              "cast((cast(b - c as decimal(38,0)) * (b - c) * 1000000) " +
                "div (b + c) as bigint)").cast("double") / lit(1000000.0))
            .as("chi2"))
    }),

    // KEPT-SET AGREEMENT across three same-budget selection policies
    // (DSIR importance vs md5-random vs raw quality score — how much do
    // the policies actually overlap in WHICH docs they keep, beyond
    // q239's aggregate drift?): the SAME scoreBudgetPrefix operator
    // three times over the q237 doc grain, pairwise Jaccards as exact
    // truncating micro divisions over the flag sums.
    "q243_kept_set_agreement" -> ((s, d) => {
      val docGrain = dsirDocGrain(s, d)
      val budget = docGrain.agg(expr("sum(n_tokens) div 4").as("budget"))
      val hashScore = expr(
        "cast(conv(substr(md5(cast(cast(doc_id as string) as binary)), 1, 15), 16, 10) as bigint)")
      // r15: all THREE selections share one banded pass and emit flags
      // in place — three kept-set left-joins + na.fill gone
      // (scoreBudgetFlags ≡ per-score scoreBudgetPrefix, ShardingSpec)
      operators.CorpusSharding.scoreBudgetFlags(
          docGrain,
          Seq("ka" -> col("wm"), "kb" -> hashScore, "kc" -> col("qm")),
          col("n_tokens"), nBuckets = 256, budget)
        .agg(count(lit(1)).as("n_docs"),
          sum("ka").as("n_dsir"), sum("kb").as("n_rand"), sum("kc").as("n_qual"),
          sum(expr("ka * kb")).as("iab"),
          sum(expr("ka * kc")).as("iac"),
          sum(expr("kb * kc")).as("ibc"))
        .select(col("n_docs"), col("n_dsir"), col("n_rand"), col("n_qual"),
          (expr("cast((iab * 1000000) div (n_dsir + n_rand - iab) as bigint)")
            .cast("double") / lit(1000000.0)).as("j_dsir_rand"),
          (expr("cast((iac * 1000000) div (n_dsir + n_qual - iac) as bigint)")
            .cast("double") / lit(1000000.0)).as("j_dsir_qual"),
          (expr("cast((ibc * 1000000) div (n_rand + n_qual - ibc) as bigint)")
            .cast("double") / lit(1000000.0)).as("j_rand_qual"))
    }),

    // CLASSIFIER OPERATING CURVE over the 16 fixed pm bins (the
    // threshold-sweep read before picking a keep cutoff: keep-rate and
    // observed precision AT EVERY candidate threshold in one pass): the
    // cumulative sums run DESCENDING over the 16-row bin histogram —
    // the r13 allowed-window argument (aggregate-sized input, agg
    // beneath), never a rank over docs.
    "q244_quality_lr_threshold_sweep" -> ((s, d) => {
      val tr = operators.QualityClassifier.train(t(s, d, "documents"))
      val w = tr.weights.last
      val bins = tr.feat
        .select(expr(operators.QualityClassifier.pmSql(w)).as("pm"), col("ym"))
        .select(least(expr("pm div 62500"), lit(15L)).as("bin"), col("ym"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(when(col("ym") === 1000000L, 1L).otherwise(0L)).as("pos"))
        .ckptLazy // consumers: cumulative window, totals
      val wDesc = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = bins.agg(sum("n").as("n_tot"))
      bins
        .withColumn("n_keep", sum("n").over(wDesc))
        .withColumn("pos_keep", sum("pos").over(wDesc))
        .crossJoin(broadcast(tot))
        .select(col("bin"),
          (col("bin").cast("double") * lit(62500.0) / lit(1000000.0))
            .as("threshold"),
          col("n_keep"),
          (expr("cast((n_keep * 1000000) div n_tot as bigint)").cast("double")
            / lit(1000000.0)).as("keep_rate"),
          (expr("cast((pos_keep * 1000000) div n_keep as bigint)").cast("double")
            / lit(1000000.0)).as("precision_kept"))
        .orderBy("bin")
    }),

    // GEOMETRIC MEDIAN of the embedding cloud (Weiszfeld 1937, 3 fixed
    // rounds — the ROBUST centroid: the mean the ANN/QA family uses
    // (q102, q185) moves arbitrarily far under a few poisoned/corrupt
    // vectors, the geometric median moves at most the contamination
    // fraction; shipping both makes the robustness delta DATA): the
    // iteration is integer end to end — x lives in vq·1000 units, per-
    // vector d² = Σ(vq·1000 − x)² is EXACT in long (≤1.1e15 < 2^53, so
    // even its double image is exact), w = round(1e12/√d²) one identical
    // rounded expression, and the per-dim update is a truncating BigInt
    // division of DECIMAL-summed numerators (HUGEINT oracle; the
    // kmeansCtes sign-split // discipline). Per round: ONE corpus pass
    // (fused w kernel + posexplode partial agg); x is a D-sized driver
    // scalar (the BpeTrainer K-scalars rule); d²=0 vectors drop (the
    // textbook Weiszfeld singularity guard). Oracle unrolls the 3
    // rounds as MATERIALIZED CTE chains.
    "q232_geometric_median" -> ((s, d) => {
      import s.implicits._
      val qv = t(s, d, "embeddings")
        .select(col("vec_id"), Similarity.quantized(col("embedding")).as("q"))
        .ckptLazy // consumers: x0 mean, 3 weighted passes
      val dims = qv.select(posexplode(col("q")).as(Seq("pos", "vq")))
        .groupBy("pos").agg(count(lit(1)).as("n"), sum("vq").as("sv"))
        .collect().map(r => (r.getInt(0), BigInt(r.getLong(2)) * 1000 / r.getLong(1)))
        .sortBy(_._1)
      var x: Array[Long] = dims.map(_._2.toLong)
      val x0 = x.clone()
      for (_ <- 1 to 3) {
        val xb = x
        val wUdf = udf((q: Array[Long]) => {
          var s2 = 0L
          var i = 0
          while (i < q.length) { val d0 = q(i) * 1000L - xb(i); s2 += d0 * d0; i += 1 }
          if (s2 == 0) 0L
          else BigDecimal(1e12 / math.sqrt(s2.toDouble))
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        })
        val sums = qv.select(wUdf(col("q")).as("w"), col("q"))
          .where(col("w") > 0)
          .select(col("w"), posexplode(col("q")).as(Seq("pos", "vq")))
          .groupBy("pos")
          .agg(sum(expr("cast(w as decimal(38,0)) * vq * 1000")).as("num"),
            sum("w").as("den"))
          .collect().map(r => (r.getInt(0),
            BigInt(r.getDecimal(1).toBigInteger), BigInt(r.getLong(2))))
        if (sums.nonEmpty) {
          val next = x.clone()
          sums.foreach { case (p, num, den) => next(p) = (num / den).toLong }
          x = next
        }
      }
      x.indices.map(p => (p, x(p).toDouble / 1024000.0, x0(p).toDouble / 1024000.0))
        .toDF("pos", "gmedian", "mean")
        .orderBy("pos")
    }),

    // TOKEN BURSTINESS — Fano factors of the top-50 tokens (Church &
    // Gale 1995: content words are BURSTY (variance-to-mean >> 1 across
    // docs), function words near-Poisson — the one-number test of
    // whether a token behaves like topic or like glue, and a corpus
    // whose "content" words stop being bursty is template spam): top-50
    // by global frequency via TakeOrdered (q51 rule), per-(token, doc)
    // counts for THAT set only (broadcast semi-join — the hot-token
    // groupBy is partial-aggregated, never a window), zero-docs enter
    // through the closed form F = (N·Σc² − S²)/(N·S) over exact
    // integers (DECIMAL/HUGEINT past 2^63), one truncating micro
    // division.
    "q233_token_burstiness" -> ((s, d) => {
      val inst = t(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .ckptLazy // consumers: top-50, per-doc counts
      val nDocs = t(s, d, "documents").agg(count(lit(1)).as("nd"))
      val top = inst.groupBy("token").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("token")).limit(50)
        .ckptLazy // consumers: semi-join + final attach
      val mo = inst.join(broadcast(top.select("token")), Seq("token"), "left_semi")
        .groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
        .groupBy("token")
        .agg(count(lit(1)).as("df"), sum("c").as("sc"),
          sum(expr("cast(c as decimal(38,0)) * c")).as("qc"))
      mo.join(broadcast(top), "token").crossJoin(broadcast(nDocs))
        .select(col("token"), col("tf"), col("df"),
          (expr("cast(((cast(nd as decimal(38,0)) * qc - " +
            "cast(sc as decimal(38,0)) * sc) * 1000000) div " +
            "(cast(nd as decimal(38,0)) * sc) as bigint)")
            .cast("double") / lit(1000000.0)).as("fano"))
        .orderBy(col("tf").desc, col("token"))
    }),

    // CUSUM BURST DETECTION on daily event volume (Page 1954 — the
    // sequential change-point screen upstream of q212's trend test:
    // Mann-Kendall asks "is there a monotone trend?", CUSUM asks "WHEN
    // did the level shift?"): both one-sided sums via the cum-minus-
    // prefix-min identity S_t = cum_t − min_{s≤t} cum_s (the recursion
    // max(0, S+y) made window-expressible — both windows run over the
    // aggregate-sized day relation), with μ the truncating micro mean
    // (recipe-is-the-statistic), σ one identical rounded double
    // expression, slack k = σ/2 and threshold h = 4σ the textbook
    // defaults in exact micro integers.
    "q228_cusum_bursts" -> ((s, d) => {
      val dv = t(s, d, "events")
        .select(date_format(timestamp_micros(tsMicros), "yyyy-MM-dd").as("day"))
        .groupBy("day").agg(count(lit(1)).as("v"))
        .ckptLazy // consumers: moments, cusum pass
      val st = dv.agg(count(lit(1)).as("n"), sum("v").as("sv"),
          sum(expr("cast(v as decimal(38,0)) * v")).as("qv"))
        .select(col("n"),
          expr("cast((cast(sv as decimal(38,0)) * 1000000) div n as bigint)").as("mum"),
          expr("cast(round(sqrt(cast(cast(n as decimal(38,0)) * qv - " +
            "cast(sv as decimal(38,0)) * sv as double)) / n * 1000000, 0) as bigint)")
            .as("sm"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dv.crossJoin(broadcast(st))
        .withColumn("yu", expr("v * 1000000 - mum - sm div 2"))
        .withColumn("yl", expr("mum - sm div 2 - v * 1000000"))
        .withColumn("cu", sum("yu").over(w))
        .withColumn("cl", sum("yl").over(w))
        .withColumn("su", col("cu") - least(min("cu").over(w), lit(0L)))
        .withColumn("sl", col("cl") - least(min("cl").over(w), lit(0L)))
        .select(col("day"), col("v"),
          (col("su").cast("double") / lit(1000000.0)).as("s_upper"),
          (col("sl").cast("double") / lit(1000000.0)).as("s_lower"),
          (col("su") > col("sm") * 4 || col("sl") > col("sm") * 4)
            .cast("int").as("is_burst"))
        .orderBy("day")
    }),

    // PER-SOURCE CORPUS SCORECARD — the r13 signals COMPOSED into the
    // one table a dataset owner actually reads (q100's dataset card is
    // corpus-global; this is the per-source drill-down): document
    // count, micro-exact mean quality (q191's floor(q*1e6+0.5) idiom),
    // exact-duplicate rate under the global min-doc_id keeper rule
    // (q180's), Gopher pass rate, and the token-mass Gini (q186's
    // histogram combinatorics over BPE token counts) — every rate a
    // truncating micro-scaled division, every per-doc value computed in
    // ONE corpus pass then reused via localCheckpoint (the dup keeper
    // join is the q21 partial-aggregated shape; the Gini window orders
    // per-source distinct lengths). One extra narrow pass nothing: the
    // scorecard is four aggregate-sized joins on source.
    "q200_source_scorecard" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          floor(TF.qualityScore(col("text")) * 1000000.0 + 0.5)
            .cast("long").as("qm"),
          TF.gopherKeep(col("text")).cast("long").as("gk"),
          md5(col("text")).as("content_hash"),
          TF.bpeTokenCount(col("text")).cast("long").as("len"))
        .ckptLazy // consumers: keeper agg, rates, gini hist
      val keep = docs.groupBy("content_hash").agg(min("doc_id").as("keep_id"))
      val rates = docs.join(keep, "content_hash")
        .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("qm").as("sq"),
          sum("gk").as("sg"), sum("is_dup").as("sd"))
      val hist = docs.groupBy("source", "len").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("source").orderBy("len")
        .rowsBetween(Window.unboundedPreceding, -1)
      val gini = hist.withColumn("r_prev", coalesce(sum("c").over(w), lit(0L)))
        .groupBy("source")
        .agg(sum("c").as("nd"), sum(expr("len * c")).as("n_tokens"),
          sum(expr("cast(len as decimal(38,0)) * " +
            "(2 * cast(c as decimal(38,0)) * r_prev + cast(c as decimal(38,0)) * (c + 1))"))
            .as("two_ix"))
        .where(col("n_tokens") > 0)
        .select(col("source"), col("n_tokens"), expr(
          "cast(((two_ix - cast(nd + 1 as decimal(38,0)) * n_tokens) * 1000000) " +
            "div (cast(nd as decimal(38,0)) * n_tokens) as bigint)").as("gini_micro"))
      rates.join(gini, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (expr("sq div n_docs").cast("double") / lit(1000000.0)).as("mean_q"),
          (expr("cast((sd * 1000000) div n_docs as bigint)").cast("double")
            / lit(1000000.0)).as("dup_rate"),
          (expr("cast((sg * 1000000) div n_docs as bigint)").cast("double")
            / lit(1000000.0)).as("gopher_rate"),
          (col("gini_micro").cast("double") / lit(1000000.0)).as("gini"))
        .orderBy("source")
    }),

    // WITHIN-DOC REPEATED-N-GRAM PROBE — the long-repetition detector
    // complementing q47's dup-token/bigram fractions and q105's
    // CROSS-doc span removal (Lee et al.'s other failure mode: a doc
    // repeating its own 16-gram is boilerplate/generation-loop junk a
    // bigram fraction barely moves): for the fixed probe grid n in
    // {2, 4, 8, 16}, one early-exiting fused-kernel pass per probe with
    // an EXACT string set — the grid stands in for "longest repeated
    // n-gram" without quadratic suffix-array work, and the oracle
    // reproduces each flag as len(ngrams) > len(distinct ngrams). A
    // narrow stateless projection — no shuffle beyond the output sort.
    "q196_repeated_ngram_probe" -> ((s, d) => {
      val ns = Array(2, 4, 8, 16)
      val probeUdf = udf((text: String) =>
        graft.functions.ShingleKernel.repeatedNgramFlags(text, ns))
      t(s, d, "documents")
        .select(col("doc_id"), probeUdf(col("text")).as("f"))
        .select(col("doc_id"),
          col("f").getItem(0).as("rep2"), col("f").getItem(1).as("rep4"),
          col("f").getItem(2).as("rep8"), col("f").getItem(3).as("rep16"))
        .withColumn("max_rep_n", expr(
          "cast(case when rep16 = 1 then 16 when rep8 = 1 then 8 " +
            "when rep4 = 1 then 4 when rep2 = 1 then 2 else 0 end as int)"))
        .orderBy("doc_id")
    }),

    // ---- scans / projections / filters (S1-S6, P1-P9) ----
    "q01_scan_filter_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    "q02_filter_prefix_range" -> ((s, d) =>
      t(s, d, "events")
        .filter(col("event_type").startsWith("s") &&
          col("value") >= 50 && col("value") <= 150)
        .select("event_id", "event_type", "value")
        .orderBy("event_id")),

    "q03_project_rename" -> ((s, d) =>
      t(s, d, "orders")
        .select(
          col("o_orderkey").as("okey"),
          col("o_totalprice").as("price"),
          upper(col("o_orderstatus")).as("status"))
        .orderBy("okey")),

    // ---- joins (J1-J3) ----
    "q04_join_broadcast_star" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val sup = broadcast(t(s, d, "supplier"))
      val nat = broadcast(t(s, d, "nation"))
      val reg = broadcast(t(s, d, "region"))
      li.join(sup, li("l_suppkey") === sup("s_suppkey"))
        .join(nat, sup("s_nationkey") === nat("n_nationkey"))
        .join(reg, nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast("double").as("revenue"))
        .orderBy("r_name", "n_name")
    }),

    "q05_interval_join" -> ((s, d) => {
      val e = t(s, d, "events")
        .select(col("user_id"), tsMicros.as("us"), col("value"))
      val spans = e.groupBy("user_id")
        .agg(min("us").as("start"), ((min("us") + max("us")) / 2).as("mid"))
      e.join(broadcast(spans), Seq("user_id"))
        .where(col("us") >= col("start") && col("us") < col("mid"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_in_span"), decSum(col("value")).as("sum_value"))
        .orderBy("user_id")
    }),

    // ---- set ops (U1-U2) ----
    "q06_union_distinct" -> ((s, d) => {
      val c = t(s, d, "customer").select(col("c_nationkey").as("nationkey")).distinct()
      val su = t(s, d, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
      c.unionByName(su).groupBy("nationkey").agg(count(lit(1)).as("n_sources"))
        .orderBy("nationkey")
    }),

    // ---- aggregations (A2-A4, A8) ----
    "q07_agg_group_counts" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          decSum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q08_count_distinct_per_group" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("event_type")).as("n_types"),
          countDistinct(date_format(timestamp_micros(tsMicros), "yyyy-MM-dd")).as("n_days"))
        .orderBy("user_id")),

    "q09_avg_minmax" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          (decSum(col("o_totalprice")) / count(lit(1))).as("avg_price"),
          min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"))
        .orderBy("o_orderpriority")),

    // ---- entropy family (A5, A6, A7, A10) ----
    "q10_class_entropy" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("user_id")
        .agg(
          sum(clsCol).as("n_ano"),
          sum(lit(1) - clsCol).as("n_ref"))
        .where(col("n_ano") > 0 && col("n_ref") > 0)
        .withColumn("class_entropy",
          round(EntropyReward.classEntropyCol(col("n_ano"), col("n_ref")), 6))
        .orderBy("user_id")),

    "q11_seg_entropy" -> ((s, d) => {
      val obs = t(s, d, "events").select(
        col("user_id").cast("string").as("window_key"),
        lit("value").as("feature"),
        jitterVal.as("value"),
        clsCol.as("type_data"))
      EntropyReward.rewards(obs, applyWorstCase = true)
        .where(col("n_ano") > 0 && col("n_ref") > 0)
        .select(
          col("window_key").cast("long").as("user_id"),
          col("n_ano"), col("n_ref"),
          round(col("class_entropy"), 6).as("class_entropy"),
          round(col("segmentation_entropy"), 6).as("segmentation_entropy"),
          round(col("reward"), 6).as("reward"))
        .orderBy("user_id")
    }),

    "q16_entropy_multiset" -> ((s, d) => {
      val c = t(s, d, "events").groupBy("user_id", "event_type").agg(count(lit(1)).as("k"))
      val tot = c.groupBy("user_id").agg(sum("k").as("n"))
      c.join(tot, "user_id")
        .withColumn("p", col("k").cast("double") / col("n"))
        .groupBy("user_id")
        .agg(round(sum(-col("p") * log2(col("p"))), 6).as("h"))
        .orderBy("user_id")
    }),

    // ---- windows / ranking / leap (W1-W6, A9) ----
    "q12_window_lag_leap" -> ((s, d) => {
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_extendedprice").desc, col("l_linenumber").asc)
      t(s, d, "lineitem")
        .withColumn("prev", lag("l_extendedprice", 1).over(w))
        .withColumn("leap", col("prev") - col("l_extendedprice"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"), round(max("leap"), 6).as("max_leap"))
        .where(col("n_items") >= 2)
        .orderBy("l_orderkey")
    }),

    "q13_leap_cutoff" -> ((s, d) => {
      val rewards = t(s, d, "lineitem").select(
        col("l_orderkey").cast("string").as("window_key"),
        col("l_linenumber").cast("string").as("feature"),
        col("l_extendedprice").as("reward"),
        col("l_linenumber").as("feat_idx"))
      LeapFilter.keptFeatures(rewards)
        .select(
          col("window_key").cast("long").as("l_orderkey"),
          col("feature").cast("int").as("l_linenumber"),
          col("rank"))
        .orderBy("l_orderkey", "rank")
    }),

    "q14_first_last_minby" -> ((s, d) => {
      val e = t(s, d, "events")
        .withColumn("val_key", col("value") * 1e7 + col("event_id"))
        .withColumn("ts_key", tsMicros * lit(1000L) + col("event_id"))
      e.groupBy("user_id")
        .agg(
          min_by(col("event_type"), col("val_key")).as("cheapest_type"),
          max_by(col("event_type"), col("val_key")).as("priciest_type"),
          min_by(col("event_type"), col("ts_key")).as("first_type"),
          max_by(col("event_type"), col("ts_key")).as("last_type"))
        .orderBy("user_id")
    }),

    "q17_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy("s_nationkey")
        .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
      t(s, d, "supplier")
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 2)
        .select("s_nationkey", "rank", "s_suppkey", "s_acctbal")
        .orderBy("s_nationkey", "rank")
    }),

    // ---- correlation (A1) ----
    "q15_corr" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"))
        .orderBy("l_returnflag")),

    // ---- sampling (M1): deterministic ~30% hash sample. md5 hex compares
    // identically in any engine, so the "seed" (the '4c' cutoff = 76/256)
    // is fully oracle-checkable, unlike an RNG-seeded Bernoulli sample ----
    "q18_sample_seeded" -> ((s, d) =>
      t(s, d, "part")
        .where(md5(col("p_partkey").cast("string").cast("binary")) < "4c")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"))
        .orderBy("p_brand")),

    // ---- melt / long format (the engine-internal representation) ----
    "q19_melt_long" -> ((s, d) =>
      t(s, d, "lineitem")
        .where(col("l_orderkey") < 50)
        .selectExpr(
          "l_orderkey", "l_linenumber",
          "stack(4, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice, " +
            "'l_discount', l_discount, 'l_tax', l_tax) as (feature, value)")
        .orderBy("l_orderkey", "l_linenumber", "feature")),

    // ---- the flagship: EXstream explanation over a generic event table ----
    "q20_exstream_explain" -> ((s, d) => exstreamExplain(s, d)),

    // ---- dedup / text ops over documents ----
    "q21_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // BPE-ish token accounting: whitespace tokens vs GPT-2-style
    // pre-tokenizer matches — the unit a training-data pipeline budgets
    // by. Pure regexp_count, fully codegen, no vocabulary needed.
    "q40_token_count" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.select(
        col("doc_id"),
        TF.tokenCount(col("text")).as("n_ws_tokens"),
        TF.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .withColumn("bpe_ratio",
          round(col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 6))
        .orderBy("doc_id")
    }),

    "q22_text_stats" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.select(
        col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_text"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double") /
          TF.tokenCount(col("text")), 6).as("avg_token_len"))
        .orderBy("doc_id")
    }),

    "q23_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), TF.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")),

    "q24_quality" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), round(TF.qualityScore(col("text")), 6).as("quality"))
        .orderBy("doc_id")),

    "q25_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    "q26_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
        k = 64, bands = 16, shingleN = 3, threshold = 0.5,
          hotBucketCap = Int.MaxValue /* oracle: exact all-pairs banding */)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("doc_a", "doc_b")),

    // the full curation pass a training-data pipeline runs before
    // tokenization, as ONE composed plan: quality gate + near-dup
    // removal keeping each cluster's canonical doc + per-language token
    // budget. Composes q24's score, q26's pair graph, q43's components,
    // q40's token count — every stage individually oracle-checked, and
    // the composition oracle-checked here
    "q44_corpus_curation" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = docs.select(col("doc_id"), col("lang"),
        TF.qualityScore(col("text")).as("q"),
        TF.bpeTokenCount(col("text")).as("toks"))
      val clusters = Dedup.dupClusters(
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 64, bands = 16, shingleN = 3, threshold = 0.5,
          hotBucketCap = Int.MaxValue /* oracle: exact all-pairs banding */))
      scored
        .join(clusters, Seq("doc_id"), "left")
        .where(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        // quality is a float computed independently by two engines that
        // agree to ~6 decimals, not to the bit — round BEFORE the gate so
        // a score one ulp from 0.8 can't flip a doc in on one engine only
        // (same determinism rule as the q38 reward rounding)
        .where(round(col("q"), 6) >= 0.8)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("toks").as("n_tokens"),
          round(avg("q"), 6).as("mean_quality"))
        .orderBy("lang")
    }),

    // the curation pipeline's OBSERVABILITY report — what each stage of
    // q44's machinery actually costs in documents and tokens (the
    // number a pipeline owner watches before flipping a threshold):
    // raw -> exact dedup (min doc_id per content hash, q21's
    // groupBy-join-back shape) -> near-dup canonical-only (q43's
    // clusters) -> quality gate (q44's rounded 0.8 rule) -> Gopher
    // rule bundle (q107's gopherKeep conjunction, r9). Every stage
    // reuses the operator the standalone queries check, and the scored
    // (id, q, toks, hash, gk) projection rides ONE localCheckpoint so
    // the corpus is scanned and scored once; the five stage rows are
    // aggregate-sized unions.
    "q97_curation_impact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.select(col("doc_id"),
          TF.qualityScore(col("text")).as("q"),
          TF.bpeTokenCount(col("text")).as("toks"),
          md5(col("text")).as("content_hash"),
          TF.gopherKeep(col("text")).cast("int").as("gk"))
        .ckptLazy // every stage derives from it
      val keepExact = base.groupBy("content_hash").agg(min("doc_id").as("keep_id"))
      val s1 = base.join(keepExact,
        base("doc_id") === keepExact("keep_id"), "left_semi")
      val clusters = Dedup.dupClusters(
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 64, bands = 16, shingleN = 3, threshold = 0.5,
          hotBucketCap = Int.MaxValue /* oracle: exact all-pairs banding */))
      val s2 = s1.join(clusters, Seq("doc_id"), "left")
        .where(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .select(s1.columns.map(col): _*)
      val s3 = s2.where(round(col("q"), 6) >= 0.8)
      val s4 = s3.where(col("gk") === 1)
      def stage(df: DataFrame, rank: Int, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
          .select(lit(rank).as("stage_rank"), lit(name).as("stage"),
            col("n_docs"), col("n_tokens"))
      stage(base, 1, "raw")
        .unionByName(stage(s1, 2, "exact_dedup"))
        .unionByName(stage(s2, 3, "near_dedup"))
        .unionByName(stage(s3, 4, "quality"))
        .unionByName(stage(s4, 5, "gopher_rules"))
        .orderBy("stage_rank")
    }),

    // as-of join: each click joined to the user's most recent prior (or
    // simultaneous) purchase — the time-series join Spark lacks natively,
    // expressed as one co-partitioned union + running-last window (see
    // operators/AsofJoin). The oracle is DuckDB's NATIVE ASOF JOIN — a
    // fully independent implementation of the same semantics, so this is
    // a cross-engine check of the operator itself, not of shared SQL.
    "q49_asof_join" -> ((s, d) => {
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), tsMicros.as("us"))
      val probes = e.where(col("event_type") === "click")
        .select("user_id", "event_id", "us")
      // unique (key, time) reference rows: AsofJoin's input contract
      val refs = e.where(col("event_type") === "purchase")
        .groupBy("user_id", "us")
        .agg(expr("max_by(value, event_id)").as("purchase_value"))
      AsofJoin.asofJoin(probes, refs, "user_id", "us", Seq("purchase_value"))
        .orderBy("event_id")
    }),

    // quality-aware dedup — the production "keep one per cluster" rule:
    // q43 keeps the MIN-ID member (the deterministic default); curation
    // keeps the HIGHEST-QUALITY member. One integer-exact argmax per
    // cluster (max of a (rounded-quality, -doc_id) struct — round
    // BEFORE the argmax per the determinism rule, id as tiebreak) over
    // the cluster table; cluster-count-sized rows, no extra corpus scan
    // beyond the quality projection.
    "q77_dedup_keep_best" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val clusters = Dedup.dupClusters(
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 64, bands = 16, shingleN = 3, threshold = 0.5,
          hotBucketCap = Int.MaxValue /* oracle: exact all-pairs banding */))
      val scored = docs.select(col("doc_id"),
        round(TF.qualityScore(col("text")), 6).as("q"))
      clusters.join(scored, Seq("doc_id"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("q"), (-col("doc_id")).as("neg_id"))).as("m"))
        .select(col("cluster_id"), col("n_members"),
          (-col("m.neg_id")).as("kept_doc_id"), col("m.q").as("best_q"))
        .orderBy("cluster_id")
    }),

    // PageRank authority over the user-journey transition graph (edge =
    // event_type -> next event_type within a user's stream, distinct) —
    // the ADVICE-r4 pairing that puts GraphRank behind the driver oracle.
    // Deterministic mode: tol = 0 runs EXACTLY 20 rounds (no early-exit
    // scalar, loop schedules back-to-back) and the oracle unrolls the
    // same 20 iterations as chained CTEs; dangling redistribution on, so
    // ranks are a probability distribution (here the transition graph
    // has no sinks, making dm identically 0 in both engines). The lag
    // window partitions by user_id — bounded per-user event counts, not
    // a Zipfian key. round-before-order discipline on the rank.
    // ACCEPTED FRAGILITY (ADVICE r5): parity rests on round(rank,6)
    // agreeing after 20 double iterations whose per-node sums are
    // parallel float reductions; a rank within an ulp of a .5e-6
    // boundary could flip between engines. Measured margin (DuckDB
    // unrounded, sf0.01 AND sf0.1): the 5-event-type transition graph
    // is complete with uniform out-degrees, so PageRank converges to
    // EXACTLY uniform 0.2 per node — rank*1e6 lands on an integer,
    // maximally far (0.5) from any .5 rounding boundary. Re-measure if
    // the event-type vocabulary grows or edge weights diversify.
    "q78_event_pagerank" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val edges = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("prev").as("src"), col("event_type").as("dst"))
      // r15: pageRankSized — the transition graph is aggregate-sized
      // (|event types|² edges at ANY corpus scale), so the 20 rounds run
      // as a driver double loop over the collected edge counts instead
      // of 20 scheduled join+agg+checkpoint stages (the r13 K-scalars
      // rule); round(·,6) parity margin is the one documented above
      // (uniform fixpoint, maximally far from any .5 boundary)
      GraphRank.pageRankSized(edges, damping = 0.85, maxIterations = 20,
          tol = 0.0, redistributeDangling = true)
        .select(col("node").as("event_type"), round(col("rank"), 6).as("rank"))
        .orderBy("event_type")
    }),

    // DSIR-style importance-resampling weights (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling" — public
    // method): score every raw document by how much its hashed-unigram
    // feature profile resembles a TARGET distribution vs the raw pool,
    // w(doc) = sum_b tf_b * log2(pt(b)/pr(b)) with Laplace-smoothed
    // bucket probabilities. Target here: the 'en' slice (the predicate
    // is arbitrary — the mechanism is the operator). Cross-engine
    // exactness: bucket counts are exact integers; each bucket's
    // log-ratio comes from ONE double ratio with both engines
    // multiplying the same doubles in the same order, rounded to 6dp,
    // then the per-doc weighted sum rides the q62 DECIMAL discipline.
    // Scale shape: the 64-bucket stats table is aggregate-sized
    // (broadcast); per-doc tf is q74's partial-aggregated shape,
    // tokenized ONCE (lazy localCheckpoint); no vocabulary state and no
    // Zipfian window anywhere.
    "q79_dsir_weights" -> ((s, d) => {
      // r15: the fused TokenBucketKernel (8-hex-prefix, 64 buckets)
      // replaces explode + per-token md5 + the token-grain groupBy —
      // doc-grain from the first projection (the q225/dsirDocGrain
      // optimization). Bucket stats ride ONE BucketSums aggregate row
      // (cells [0,64) = cr, [64,128) = ct with flag lang='en'); the
      // log2 ratio is the exact same double expression over those
      // cells, micro-scaled through DECIMAL (lr is already rounded to
      // 6dp, so lr·1e6 is an exact integer and the per-doc DECIMAL sum
      // Σ lr·tf equals dot(cs, lrm)/1e6 exactly — same nearest double).
      val base = t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          udf((text: String) =>
            graft.functions.TokenBucketKernel.bucketCounts(text, 64, 0L, hexChars = 8))
            .apply(col("text")).as("cs"),
          (col("lang") === "en").as("is_en"))
        .ckptLazy // consumers: fused bucket-sums agg, per-doc weights
      val sums = base.agg(
        plans.VecAggs.bucketSums(s, "cs", "is_en").as("sums"))
      val ratio = sums
        .select(col("sums"),
          expr("aggregate(slice(sums, 1, 64), 0L, (a, x) -> a + x)").as("tr"),
          expr("aggregate(slice(sums, 65, 64), 0L, (a, x) -> a + x)").as("tt"))
        .select(expr(
          "transform(sequence(0, 63), b -> cast(" +
            "cast(round(log2(" +
            "(cast((coalesce(element_at(sums, b + 65), 0L) + 1) as double) * cast((tr + 64) as double)) / " +
            "(cast((element_at(sums, b + 1) + 1) as double) * cast((tt + 64) as double))" +
            "), 6) as decimal(18,6)) * 1000000 as bigint))").as("lrm"))
      base.crossJoin(broadcast(ratio))
        .select(col("doc_id"),
          vecSumUdf(col("cs")).as("n_tokens"),
          (vecDotUdf(col("cs"), col("lrm")).cast("double") / lit(1000000.0))
            .as("dsir_weight"))
        .orderBy("doc_id")
    }),

    // cross-doc duplicate n-gram fraction (the per-doc signal behind
    // substring-level dedup, Lee et al. 2022 "Deduplicating Training Data
    // Makes Language Models Better" — public method): what fraction of a
    // doc's DISTINCT 3-gram shingles also appear in at least one other
    // doc. Differs from q27 (pairwise doc similarity) and q47 (WITHIN-doc
    // repetition): this is the corpus-level boilerplate detector. Scale
    // shape: shingles hashed to 60-bit md5 prefixes (collisions identical
    // in both engines by construction), doc frequency via one
    // partial-aggregated groupBy(h) joined back to the once-materialized
    // shingle table — the q52 de-skew family; a hot boilerplate shingle
    // collapses map-side in the count and is join-side (AQE-splittable),
    // never a window key.
    "q80_dup_ngram_frac" -> ((s, d) => {
      val sh = t(s, d, "documents")
        .select(col("doc_id"), explode(shingleSet3Udf(col("text"))).as("sh"))
        .select(col("doc_id"),
          expr("cast(conv(substr(md5(cast(sh as binary)), 1, 15), 16, 10) as bigint)").as("h"))
        .ckptLazy
      val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
      sh.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ngrams"),
          sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_ngrams"), col("n_dup"),
          round(col("n_dup").cast("double") / col("n_ngrams"), 6).as("dup_ngram_frac"))
        .orderBy("doc_id")
    }),

    // SemDeDup over the embeddings table: q31's semantic near-dup pruning
    // at the shape that survives 100× — the quadratic bounded per Voronoi
    // cell (16 cells here; `ivfCellsFor` sizes the count so cells stay
    // O(1k) vectors at any corpus size). keep=0 marks the larger id of
    // any within-cell pair with round(cosine,6) >= 0.4.
    "q81_semdedup" -> ((s, d) =>
      Similarity.semDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        nCells = 16, minCosine = 0.4)
        .select(col("id").as("vec_id"), col("cell"),
          col("keep").cast("int").as("keep"))
        .orderBy("vec_id")),

    // vocabulary growth curve (Heaps' law, the corpus-composition
    // diagnostic): trigram shingles attributed to the doc-id bucket where
    // they FIRST appear, cumulative vocabulary per bucket (shingles, not
    // unigrams — the fixture's closed word set saturates in one bucket,
    // while the n-gram space keeps growing like a real corpus's
    // vocabulary does). Scale shape: the Zipfian shingle key is only ever
    // a partial-aggregated groupBy (min(doc_id) combines map-side); the
    // running sum runs over a FIXED-SIZE bucket table (16 buckets at any
    // corpus size — the width derives from one up-front count scalar), so
    // the global-order window is aggregate-sized by construction.
    // ASSUMES dense doc_ids starting near 0 (true of the testdata
    // generator): width = ceil(count/16) buckets floor(first_doc/width)
    // into exactly 16 bins only under that layout; sparse/offset ids
    // would yield fewer or shifted buckets (still oracle-identical — the
    // SQL mirrors the derivation — but the "16 buckets" claim is
    // data-dependent). For arbitrary ids, substitute a rank over doc_id.
    "q82_vocab_growth" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val width = math.max(1L, math.ceil(docs.count() / 16.0).toLong)
      val firstSeen = docs
        .select(col("doc_id"), explode(shingleSet3Udf(col("text"))).as("token"))
        .groupBy("token").agg(min("doc_id").as("first_doc"))
      val perBucket = firstSeen
        .withColumn("bucket", floor(col("first_doc").cast("double") / width).cast("bigint"))
        .groupBy("bucket").agg(count(lit(1)).as("new_tokens"))
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perBucket
        .withColumn("vocab_size", sum("new_tokens").over(w))
        .orderBy("bucket")
    }),

    // temperature-based mixture sampling weights (the alpha-sampling rule
    // from multilingual LM training, e.g. XLM / mT5 — public method):
    // per-language sampling probability q_l proportional to p_l^alpha,
    // upweighting low-resource languages. alpha = 0.5 so the power IS
    // sqrt — IEEE-754 correctly-rounded in every engine, unlike pow()
    // whose libm results differ; the normalizer is an exact DECIMAL sum
    // of the 6dp-rounded weights (order-independent), and the final
    // ratio divides the same two doubles in both engines. Scale shape:
    // one partial-aggregated groupBy(lang); everything after is
    // aggregate-sized (|langs| rows).
    "q83_mixture_weights" -> ((s, d) => mixtureWeights(s, d).orderBy("lang")),

    // train/val/test token-distribution drift: KL(train || split) in bits
    // over the 64 hashed-unigram buckets (q74's bucket convention, q46's
    // md5 split convention) — the monitoring signal that catches a
    // mis-stratified split or upstream distribution shift before a
    // training run does. Laplace-smoothed; each bucket term follows
    // q79's parity discipline (ONE double ratio of exact integer counts
    // cast to double, log2, rounded to 6dp, summed as exact DECIMAL).
    // Scale shape: one partial-aggregated groupBy(split, bucket); the
    // scaffold and every join after it are aggregate-sized (<= |splits|
    // x 64 rows, broadcast).
    "q84_distribution_drift" -> ((s, d) => {
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val tb = t(s, d, "documents")
        .select(
          when(h < "0d", "test").when(h < "1a", "val").otherwise("train").as("split"),
          explode(TF.tokens(col("text"))).as("token"))
        .withColumn("bucket",
          expr("cast(conv(substr(md5(cast(token as binary)), 1, 8), 16, 10) as bigint) % 64"))
        .groupBy("split", "bucket").agg(count(lit(1)).as("c"))
        .ckptLazy
      val scaffold = tb.select("split").where(col("split") =!= "train").distinct()
        .crossJoin(broadcast(tb.select("bucket").distinct()))
      val joined = scaffold
        .join(tb.where(col("split") =!= "train")
          .select(col("split"), col("bucket"), col("c").as("cq")),
          Seq("split", "bucket"), "left")
        .join(broadcast(tb.where(col("split") === "train")
          .select(col("bucket"), col("c").as("cp"))), Seq("bucket"), "left")
        .crossJoin(broadcast(tb.where(col("split") === "train")
          .agg(sum("c").as("tp"))))
        .join(broadcast(tb.where(col("split") =!= "train")
          .groupBy("split").agg(sum("c").as("tq"))), Seq("split"))
      joined
        .select(col("split"),
          (round(
            ((coalesce(col("cp"), lit(0L)) + 1).cast("double") / (col("tp") + 64).cast("double")) *
              log2(((coalesce(col("cp"), lit(0L)) + 1).cast("double") * (col("tq") + 64).cast("double")) /
                ((coalesce(col("cq"), lit(0L)) + 1).cast("double") * (col("tp") + 64).cast("double"))), 6))
            .cast(DecimalType(18, 6)).as("term"))
        .groupBy("split").agg(sum("term").cast("double").as("kl_bits"))
        .orderBy("split")
    }),

    // BPE tokenizer-training kernel (Sennrich et al. 2016 — public
    // method): the adjacent-symbol-pair counting that drives every merge
    // decision, here the first iteration (symbols = characters) with the
    // winning merge at rank 1. The scale decomposition is the classic
    // one: the CORPUS collapses into a distinct-word frequency table
    // first (Zipfian word key only ever a partial-aggregated groupBy),
    // and pairs explode over the VOCABULARY (|V| x avg_len rows, not
    // corpus-sized) weighted by word frequency. substring-over-sequence
    // generates pairs identically in both engines; 1-char words are
    // filtered (Spark's sequence(1, 0) would go descending).
    "q85_bpe_pairs" -> ((s, d) => {
      val vocab = t(s, d, "documents")
        .select(explode(TF.tokens(col("text"))).as("word"))
        .where(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      vocab
        .select(col("freq"), explode(expr(
          "transform(sequence(1, length(word)-1), i -> substring(word, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // triangle enumeration over the verified near-dup graph (q26's
    // edges): triangles are 3-cliques of mutual near-duplicates — the
    // density signal that tells template boilerplate (dense cliques)
    // from chance pairwise collisions (sparse). Scale shape: the classic
    // degree-ordered orientation — each edge points toward its
    // higher-(deg, id) endpoint, bounding every vertex's out-degree by
    // sqrt(2m), so the wedge self-join is O(m^1.5) worst case instead of
    // sum(deg^2) (a hub vertex never fans out); the closing edge is an
    // equi-join on the canonical (a < b) pair. Output rows are
    // id-canonical (doc_a < doc_b < doc_c), matching the oracle's
    // id-ordered enumeration exactly.
    "q86_dup_triangles" -> ((s, d) => {
      val pairs = Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
          k = 64, bands = 16, shingleN = 3, threshold = 0.5,
          hotBucketCap = Int.MaxValue /* oracle: exact all-pairs banding */)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
        .ckptLazy // multi-consumer: degrees, orientation, closure
      val deg = pairs.select(col("a").as("v"))
        .union(pairs.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val aFirst = pairs
        .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
        .select(col("a"), col("b"),
          (col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b"))).as("fwd"))
      val oriented = aFirst.select(
          when(col("fwd"), col("a")).otherwise(col("b")).as("u"),
          when(col("fwd"), col("b")).otherwise(col("a")).as("w"))
        .ckptLazy // self-joined below
      val wedges = oriented.as("e1").join(oriented.as("e2"),
          col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
        .select(col("e1.u").as("x"),
          least(col("e1.w"), col("e2.w")).as("p"),
          greatest(col("e1.w"), col("e2.w")).as("q"))
      wedges.join(pairs, wedges("p") === pairs("a") && wedges("q") === pairs("b"),
          "left_semi")
        .select(array_sort(array(col("x"), col("p"), col("q"))).as("t"))
        .select(col("t")(0).as("doc_a"), col("t")(1).as("doc_b"),
          col("t")(2).as("doc_c"))
        .orderBy("doc_a", "doc_b", "doc_c")
    }),

    // the full BPE trainer loop (q85 is its round 1): K=6 merges over the
    // distinct-word frequency table, each round = vocabulary-sized pair
    // count + greedy sentinel-replace merge application (BpeTrainer
    // scaladoc derives the cross-engine replace-semantics argument).
    // Fixed-K deterministic mode (minCount=0) so the oracle unrolls the
    // same 6 rounds as materialized chained CTEs — the q78 pattern;
    // production uses the minCount early exit. Counts and pair strings
    // are exact: no float discipline needed anywhere in the loop.
    "q87_bpe_train" -> ((s, d) => {
      val words = t(s, d, "documents")
        .select(explode(TF.tokens(col("text"))).as("word"))
      BpeTrainer.train(BpeTrainer.vocabulary(words), merges = 6, minCount = 0L)
        .orderBy("merge_rank")
    }),

    // the trained tokenizer APPLIED to the corpus — the production
    // encode path q87's training exists for: per-document token counts
    // under the learned 6-merge vocabulary. ONE corpus pass builds the
    // (doc, word, tf) table; the vocabulary derives from it (no second
    // scan), trains as in q87 (K collected decision scalars), and the
    // merge list replays as K literal sentinel replaces over the
    // DISTINCT-word table — |V| replace chains, never one per corpus
    // token — joined back to tf on the aggregated word key. Words the
    // trainer never saw (single chars, by the vocabulary filter) fall
    // back to character count. Counts exact integers end to end.
    "q93_bpe_tokenize" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .ckptLazy // two consumers: vocabulary, apply join
      val vocab = BpeTrainer.vocabularyFromCounts(tf, "word", "tf")
      val merges = BpeTrainer.train(vocab, merges = 6, minCount = 0L)
        .orderBy("merge_rank").collect().map(_.getString(1)).toSeq
      val encWords = BpeTrainer.applyMerges(vocab.select("word"), "word", merges)
        .select(col("word"), BpeTrainer.symbolCount(col("enc")).as("n_sym"))
      tf.join(encWords, Seq("word"), "left")
        .groupBy("doc_id")
        .agg(sum("tf").as("n_words"),
          sum(col("tf") *
            coalesce(col("n_sym"), length(col("word")).cast("long"))).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // q83's weights APPLIED as a sampler: a 25%-of-corpus token budget is
    // redistributed across languages by the temperature weights
    // (budget_l = B * q_l — low-resource languages keep more than 25% of
    // their mass, high-resource less), then each language keeps its
    // deterministic md5-order greedy prefix via CorpusSharding's
    // two-level machinery (per-(lang, shard) running sums + an
    // aggregate-sized offset join — q59's proven shape, external budgets
    // broadcast in). Budget parity: B * q_l is EXACT integer arithmetic —
    // the 6dp weight is re-scaled to a bigint via round(w*1e6) (the
    // micro-scaling rule; w*1e6 sits ~1e-9 from an integer, never near
    // .5), so both engines floor the same product. Output is the
    // aggregate-sized per-language sample report.
    "q88_mixture_sample" -> ((s, d) => {
      val wts = mixtureWeights(s, d)
      val budgets = wts.crossJoin(broadcast(wts.agg(sum("n_tokens").as("nt"))))
        .select(col("lang"), expr(
          "((nt div 4) * cast(round(alpha_weight * 1e6, 0) as bigint)) div 1000000")
          .as("budget"))
      CorpusSharding.weightedBudgetPrefix(t(s, d, "documents"),
          TF.bpeTokenCount(col("text")), prefixHexChars = 1, budgets)
        .groupBy("lang")
        .agg(max("budget").as("budget"), count(lit(1)).as("n_docs_kept"),
          sum("toks").as("n_tokens_kept"))
        .orderBy("lang")
    }),

    // cross-SOURCE corpus overlap report — the provenance question asked
    // before mixing corpora ("how much of source A is already in source
    // B?"): exact pairwise shingle-set Jaccard via a per-hash source
    // BITMASK — bit_or partial-aggregates, and the mask histogram is
    // aggregate-sized (<= 2^|S| rows), so the pairwise sums never touch
    // the corpus again — alongside the MERGEABLE minhash sketch estimate
    // (element-wise min IS a partial-aggregable groupBy), which is the
    // unbounded path when |S| outgrows the 64-bit mask; reporting est
    // next to exact makes the sketch error measurable data. The only
    // corpus-sized work is ONE distinct over (source, h); every
    // downstream table is aggregate-sized and broadcast. Cross-engine
    // exactness: md5-32 shingle hashes (PortableHash convention), the
    // affine-mod-P permutations of graft.plans.MinHashSignature
    // reconstructed literally in the oracle, counts exact integers,
    // jaccard one double division of identical ints, est an exact
    // dyadic matches/64.
    "q89_source_overlap" -> ((s, d) => {
      import graft.plans.MinHashSignature.{coeffA, coeffB, P}
      val md5Sh = udf((text: String) =>
        graft.functions.ShingleKernel.md5ShingleSet(text, 3))
      val sh = t(s, d, "documents")
        .select(col("source"), explode(md5Sh(col("text"))).as("h"))
        .distinct()
        .ckptLazy // three consumers: counts, masks, sketches
      // ONE aggregate pass yields both the per-source counts and the
      // dense index (a second distinct() would re-read the corpus-sized
      // checkpoint per consumer); the aggregate-sized result is itself
      // checkpointed so the window runs once, not once per consumer
      val cnt = sh.groupBy("source").agg(count(lit(1)).as("n_src"))
        .withColumn("idx",
          (row_number().over(Window.orderBy("source")) - 1).cast("long"))
        // Enforce the 64-source limit of the exact-bitmask path at runtime:
        // Spark masks shift amounts mod 64, so a 65th source would silently
        // alias bit 0 and corrupt n_inter/n_union. The guard rides the
        // aggregate-sized cnt table (one CASE per source, not per shingle);
        // past 64 sources, use the minhash sketch path alone.
        .withColumn("idx", expr(
          "CASE WHEN idx < 64 THEN idx ELSE CAST(raise_error(" +
            "'q89_source_overlap: exact bitmask path supports at most 64 sources') AS BIGINT) END"))
        .ckptLazy // three consumers: pairs (x2 sides), hist
      val srcIdx = cnt.select("source", "idx")
      val hist = sh.join(broadcast(srcIdx), "source")
        .groupBy("h")
        .agg(bit_or(expr("shiftleft(cast(1 as bigint), cast(idx as int))")).as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("n"))
      val mins = (0 until 64).map(i =>
        min((col("h") * coeffA(i) + coeffB(i)) % P).as(s"m$i"))
      val sig = sh.groupBy("source").agg(mins.head, mins.tail: _*)
        .select(col("source"),
          array((0 until 64).map(i => col(s"m$i")): _*).as("sig"))
      val pairs = cnt.as("x").join(cnt.as("y"), col("x.source") < col("y.source"))
        .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
          col("x.idx").as("ia"), col("y.idx").as("ib"),
          col("x.n_src").as("n_a"), col("y.n_src").as("n_b"))
      val exact = pairs.crossJoin(broadcast(hist))
        .groupBy("src_a", "src_b", "n_a", "n_b")
        .agg(
          sum(when(expr("((mask >> cast(ia as int)) & 1) = 1 and ((mask >> cast(ib as int)) & 1) = 1"),
            col("n")).otherwise(0L)).as("n_inter"),
          sum(when(expr("((mask >> cast(ia as int)) & 1) = 1 or ((mask >> cast(ib as int)) & 1) = 1"),
            col("n")).otherwise(0L)).as("n_union"))
      val est = sig.as("sx").join(sig.as("sy"), col("sx.source") < col("sy.source"))
        .select(col("sx.source").as("src_a"), col("sy.source").as("src_b"),
          (expr("aggregate(zip_with(sx.sig, sy.sig, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
            / 64.0).as("raw_est"))
      exact.join(broadcast(est), Seq("src_a", "src_b"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_inter"),
          round(col("n_inter").cast("double") / col("n_union").cast("double"), 6)
            .as("jaccard"),
          round(col("raw_est"), 6).as("minhash_est"))
        .orderBy("src_a", "src_b")
    }),

    // session path mining — top 3-step event-type sequences WITHIN a
    // session (q50's 12 h gap semantics), the pattern-frequency view of
    // the event stream that q70's funnel attribution and q78's
    // transition graph don't give: which exact paths dominate. Two
    // leads over the same per-user window that sessionization already
    // pays for (user_id is high-cardinality and un-skewed — the
    // window-partition rule's allowed case), session-crossing triples
    // filtered by id equality; the path alphabet is event_types^3 so
    // the count table is aggregate-sized and top-20 compiles to
    // TakeOrderedAndProject. All-integer + string — no float
    // discipline needed.
    "q96_session_paths" -> ((s, d) => {
      val gapUs = 43200L * 1000000L
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val sess = t(s, d, "events")
        .select(col("user_id"), col("event_id"), tsMicros.as("us"), col("event_type"))
        .withColumn("new_s",
          when(lag("us", 1).over(w).isNull ||
            col("us") - lag("us", 1).over(w) > gapUs, 1L).otherwise(0L))
        .withColumn("session_id",
          sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess
        .withColumn("e2", lead("event_type", 1).over(w))
        .withColumn("s2", lead("session_id", 1).over(w))
        .withColumn("e3", lead("event_type", 2).over(w))
        .withColumn("s3", lead("session_id", 2).over(w))
        .where(col("s2") === col("session_id") && col("s3") === col("session_id"))
        .select(concat_ws(" > ", col("event_type"), col("e2"), col("e3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    }),

    // incremental delta-dedup report — the "today's batch vs existing
    // corpus" ingestion flow: each NEW document (md5-split ~10% stands
    // in for the arriving batch, q46's convention) classified as
    // exact_dup (content hash already in the base), near_dup (verified
    // jaccard >= 0.5 against a BASE doc), or novel. The near side
    // filters the shared full-corpus pair graph to cross (new, base)
    // pairs so the oracle reuses the q26 CTE verbatim; the
    // production-scale form bands ONLY the delta against a base bucket
    // registry built by the same LSH kernels, which is linear in the
    // delta, not the corpus. Exact side is two hash projections and a
    // semi-join.
    "q104_delta_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val isNew = md5(col("doc_id").cast("string").cast("binary")) < "1a"
      val tagged = docs.select(col("doc_id"), isNew.as("is_new"),
          md5(col("text")).as("ch"))
        .ckptLazy // consumed by base hashes, new ids, joins
      val baseH = tagged.where(!col("is_new")).select("ch").distinct()
      val exactDup = tagged.where(col("is_new"))
        .join(baseH, Seq("ch"), "left_semi")
        .select(col("doc_id")).withColumn("e", lit(1))
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 64, bands = 16, shingleN = 3, threshold = 0.5,
          hotBucketCap = Int.MaxValue /* oracle: exact all-pairs banding */)
        .ckptLazy // read from both directions
      val nearNew = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("other"))
        .union(pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("other")))
        .join(tagged.where(col("is_new")).select("doc_id"), Seq("doc_id"))
        .join(tagged.where(!col("is_new")).select(col("doc_id").as("other")),
          Seq("other"))
        .select("doc_id").distinct().withColumn("nr", lit(1))
      tagged.where(col("is_new")).select("doc_id")
        .join(exactDup, Seq("doc_id"), "left")
        .join(nearNew, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("e") === 1, "exact_dup")
            .when(col("nr") === 1, "near_dup")
            .otherwise("novel").as("status"))
        .orderBy("doc_id")
    }),

    // exact substring-span REMOVAL (Lee et al. 2022 "Deduplicating
    // Training Data Makes Language Models Better" — the operator q80's
    // duplicate-span SIGNAL exists to feed): the corpus re-emitted with
    // cross-doc duplicate K-token spans trimmed, keeping the FIRST
    // occurrence (lexicographic (doc_id, pos) minimum — dedup also
    // applies within a doc, so a phrase repeated in one document keeps
    // only its first instance). Every K-token window whose hash has an
    // earlier occurrence marks its K token positions; overlapping marks
    // stitch into maximal spans (n_spans), and the trimmed text is the
    // surviving tokens re-joined with single spaces (whitespace runs
    // normalize — the standard output convention of span-level dedup).
    // Scale shape: ONE tokenized corpus pass feeds both the shingle
    // table and the reconstruction (lazy localCheckpoint);
    // first-occurrence attribution is TWO partial-aggregated groupBys
    // over the Zipfian shingle key (q82's min-combine pattern — never a
    // window over h); dup classification is an h-keyed equi-join, hot
    // shingles AQE-splittable; the coverage explode is xK linear; span
    // stitching and reconstruction run per doc over arrays bounded by
    // the doc's own token count — no token-level shuffle, no per-doc
    // window. Identity is the md5-60-bit shingle hash (PortableHash
    // convention): a cross-doc collision would trim a non-duplicate
    // span with probability ~ n_shingles^2/2^61, IDENTICALLY in the
    // oracle (shared hash), so parity is unaffected; Lee et al.'s
    // suffix-array exactness is recovered by verifying trimmed spans if
    // needed (the near-zero collision rate makes that a non-default).
    "q105_span_removal" -> ((s, d) => {
      val k = 5
      val docs = t(s, d, "documents")
        .select(col("doc_id"), TF.tokens(col("text")).as("t"))
        .ckptLazy // two consumers: shingle table, reconstruction
      val sh = docs.where(size(col("t")) >= k)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(1, size(t) - ${k - 1}), i -> " +
            s"cast(conv(substr(md5(cast(concat_ws(' ', slice(t, i, $k)) as binary)), 1, 15), 16, 10) as bigint))"))
          .as(Seq("p0", "h")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h"))
        .ckptLazy // two consumers: first-occurrence, classification
      val fd = sh.groupBy("h").agg(min("doc_id").as("fd"))
      val fo = sh.join(fd, "h").where(col("doc_id") === col("fd"))
        .groupBy("h", "fd").agg(min("pos").as("fp"))
      // r16 (§2.3 shuffle fewer bytes): only the span START positions
      // cross the aggregation exchange — the k-wide expansion to covered
      // positions and its dedup happen per-row AFTER the groupBy, so the
      // exchange carries 1x the occurrence volume instead of kx plus a
      // whole distinct exchange (at sf0.1: 6.4 MB -> 1.3 MB shuffled,
      // 5 -> 4 exchanges; the removed exchange is corpus-token-sized at
      // scale). `cov` is byte-identical: sorted distinct covered
      // positions either way.
      val covered = sh.join(fo, "h")
        .where(col("doc_id") =!= col("fd") || col("pos") =!= col("fp"))
        .select(col("doc_id"), col("pos"))
      val covArr = covered.groupBy("doc_id")
        .agg(sort_array(array_distinct(collect_list("pos"))).as("starts"))
        .select(col("doc_id"), expr(
          s"array_sort(array_distinct(flatten(transform(starts, s -> sequence(s, s + ${k - 1})))))")
          .as("cov"))
      docs.join(covArr, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("t")).cast("long").as("n_tokens"),
          // explicit isNull guards, not coalesce: with ANSI off (the
          // NumPy-faithful session default) legacy sizeOfNull makes
          // size(NULL) = -1, and sequence(1, -1) descends — both would
          // corrupt the uncovered-doc rows silently
          when(col("cov").isNull, lit(0L))
            .otherwise(size(col("cov")).cast("long")).as("n_removed"),
          when(col("cov").isNull, lit(0L)).otherwise(expr(
            "size(filter(transform(sequence(1, size(cov)), i -> " +
              "CASE WHEN i = 1 OR element_at(cov, i) - element_at(cov, i - 1) > 1 THEN 1 END), " +
              "x -> x IS NOT NULL))").cast("long")).as("n_spans"),
          // O(L) reconstruction (r9 verdict #2): array_except builds a
          // hash set of cov once and scans the position sequence — the
          // prior per-position array_contains form was O(L * |cov|),
          // ~10^10 comparisons for a heavily-covered 100k-token doc
          // (SpanRemovalSpec locks equivalence + linear scaling).
          // array_except preserves first-array order and sequence has no
          // duplicates, so kept positions stay ascending.
          when(col("cov").isNull, concat_ws(" ", col("t"))).otherwise(expr(
            "concat_ws(' ', transform(" +
              "array_except(sequence(cast(1 as bigint), cast(size(t) as bigint)), cov), " +
              "i -> element_at(t, cast(i as int))))")).as("trimmed_text"))
        .orderBy("doc_id")
    }),

    // PII/sensitive-span redaction (the C4/CCNet-style cleaning stage
    // every training pipeline runs before release): per-doc counts and
    // redacted text for email / IPv4 / phone / id-number shapes —
    // TextFunctions.piiPatterns, a Java-regex/RE2-portable subset run
    // LITERALLY in both engines. Everything is a codegen'd
    // regexp_count/regexp_replace projection in one corpus pass: no
    // UDF, no shuffle at all before the output ORDER BY, trivially
    // linear at any scale. The synthetic corpus carries no PII shapes
    // (probed: zero digits in any document), so the fixture is
    // AUGMENTED deterministically from doc_id with the identical
    // expression in both engines — planted emails/IPs/phones/ids at
    // known densities (mod 7/11/13/17) prove detection and redaction on
    // real spans rather than vacuously matching nothing; the operator
    // surface (redactPii) is fixture-independent. The four shapes are
    // mutually non-overlapping (digit-group widths differ), so counts
    // are order-independent and PiiRedactionSpec's span-count invariant
    // (redacted tags == detected counts, zero residual matches) holds
    // exactly.
    "q106_pii_redaction" -> ((s, d) =>
      piiReport(t(s, d, "documents").select(col("doc_id"), piiAugment.as("atext")))
        .orderBy("doc_id")),

    // Gopher-style quality-rule bundle (Rae et al. 2021) — the
    // multi-rule document gate q24's single scalar graduates into:
    // per-rule booleans (word-count window, mean word length,
    // symbol-to-word ratio, bullet/ellipsis line fractions,
    // alphabetic-word fraction) plus the composite keep, ONE codegen'd
    // corpus-pass projection (per-line/per-token counts are bounded
    // per-row array HOFs, no shuffle before the output ORDER BY).
    // Every threshold is an integer cross-multiplication
    // (TextFunctions.gopherRules), so there is no float boundary to
    // round — the oracle runs the same exact comparisons. q97's funnel
    // composes the SAME gopherKeep definition as its stage 5, so the
    // bundle is observable as a curation stage, not just a per-doc
    // report.
    "q107_gopher_rules" -> ((s, d) => {
      val rules = TF.gopherRules(col("text"))
      t(s, d, "documents")
        .select(col("doc_id") +:
          size(TF.tokens(col("text"))).cast("long").as("n_words") +:
          rules.map { case (n, c) => c.cast("int").as(n) } :+
          TF.gopherKeep(col("text")).cast("int").as("keep"): _*)
        .orderBy("doc_id")
    }),

    // sparse TF-IDF cosine similarity via an INVERTED INDEX — the
    // IR-canonical weighted-similarity shape (distinct from q29's dense
    // embedding kNN and q27's unweighted set Jaccard): documents as
    // idf-weighted trigram-shingle vectors, pairwise cosine computed
    // through df-capped posting lists. The scale story IS the df cap:
    // a posting list of length df yields df^2/2 candidate pairs, so
    // capping df <= 20 bounds pair volume by 20x the posting count —
    // linear in the corpus — while stop-shingles (the Zipfian head that
    // carries no discriminative weight anyway) leave the vector space
    // entirely (dot AND norm — cosine is exact in the pruned space, not
    // an approximation of the unpruned one). The operator's production
    // default is Similarity.DfCapAuto → dfCapFor(n_docs) (corpus-
    // fraction sizing, r9 verdict #1); the oracle pins the explicit cap
    // (= dfCapFor's floor at fixture scale) for determinism. Parity:
    // weights are micro-scaled integers (round(idf * 1e6), the q98
    // pattern), so dots and norms are exact integer sums in any
    // summation order; the only float ops are one ln per (shingle, doc)
    // of identical int ratios and one sqrt-divide-round per pair. df
    // counts ride a partial-aggregated groupBy (never a window over the
    // Zipfian shingle key).
    "q108_sparse_cosine_pairs" -> ((s, d) =>
      Similarity.sparseCosinePairs(t(s, d, "documents"), "doc_id", "text",
        shingleN = 3, dfCap = 20L /* oracle: pinned; default is sized */,
        topK = 20)),

    // cross-source near-dup contamination matrix — the provenance
    // report q89's shingle-overlap numbers graduate into once VERIFIED
    // near-dup pairs exist: for each (source, source) cell, how many
    // verified near-duplicate pairs cross it and at what mean
    // similarity (a high src_a != src_b cell = one source is
    // re-crawling another — double-counted training mass). Composes
    // q26's exact pair machinery (uncapped, the oracle CTE) with a
    // doc -> source map join; the matrix is |sources|^2 aggregate-sized.
    // Mean jaccard rides the micro-scaled integer pattern: per-pair
    // round(j*1e6) to BIGINT, exact sum, truncating integer division
    // (q55's discipline) — no float summation order anywhere.
    "q109_source_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 64, bands = 16, shingleN = 3, threshold = 0.5,
        hotBucketCap = Int.MaxValue /* oracle: exact all-pairs banding */)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"),
          expr("cast(round(jaccard * 1e6, 0) as bigint)").as("jm"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_pairs"), sum("jm").as("sjm"))
        .select(col("src_a"), col("src_b"), col("n_pairs"),
          (expr("sjm div n_pairs") / 1e6).as("mean_jaccard"))
        .orderBy("src_a", "src_b")
    }),

    // Stupid Backoff bigram LM scoring (Brants et al. 2007 "Large
    // Language Models in Machine Translation" — the web-scale LM score
    // that skips normalization): S(w2|w1) = c(w1w2)/c(w1) when the
    // bigram is attested, else 0.4 * c(w2)/N — the quality-filter form
    // where a SMALL clean reference corpus (here the 1% doc_id%97
    // slice; CCNet trains on Wikipedia) scores the huge crawl, so the
    // backoff branch is live by construction (a large train split over
    // the fixture's closed vocabulary would cover every bigram and
    // leave backoff dead code — probed: 17,985/27,070 scored bigram
    // instances back off at sf0.001). Per-doc mean surprisal rides
    // q72's exact discipline: each term is log2 of a ratio of exact
    // integers (identical expression text both engines), rounded to
    // 6dp into DECIMAL(18,6), summed exactly, mean via micro-scaled
    // integer division. LM tables are vocabulary-sized partial
    // aggregates (broadcast-joined back); the corpus-sized work is one
    // bigram explode.
    "q111_stupid_backoff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val bg = docs.withColumn("tk", TF.tokens(col("text")))
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(tk, 1, size(tk)-1), slice(tk, 2, size(tk)-1)," +
            " (a, b) -> concat(a, ' ', b))")).as("bigram"))
        .ckptLazy // two consumers: train counts, scoring
      val c2 = bg.where(col("doc_id") % 97 === 0)
        .groupBy("bigram").agg(count(lit(1)).as("c2"))
      val c1 = c2.withColumn("w1", expr("split_part(bigram, ' ', 1)"))
        .groupBy("w1").agg(sum("c2").as("c1"))
      val cw = docs.where(col("doc_id") % 97 === 0)
        .select(explode(TF.tokens(col("text"))).as("w2"))
        .groupBy("w2").agg(count(lit(1)).as("cw"))
      val nTrain = docs.where(col("doc_id") % 97 === 0)
        .agg(sum(TF.tokenCount(col("text")).cast("long")).as("n_train"))
      val bt = bg.where(col("doc_id") % 97 =!= 0)
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("tf"))
        .withColumn("w1", expr("split_part(bigram, ' ', 1)"))
        .withColumn("w2", expr("split_part(bigram, ' ', 2)"))
      bt.join(c2, Seq("bigram"), "left")
        .join(c1, Seq("w1"), "left")
        .join(cw, Seq("w2"), "left")
        .crossJoin(broadcast(nTrain))
        .withColumn("term", when(col("c2").isNotNull,
            round(log2(col("c1").cast("double") / col("c2")), 6))
          .otherwise(
            round(log2(col("n_train").cast("double") * 2.5 / coalesce(col("cw"), lit(1L))), 6))
          .cast(DecimalType(18, 6)))
        .groupBy("doc_id")
        .agg(sum(col("term") * col("tf")).as("sdec"), sum("tf").as("n_bigrams"),
          sum(when(col("c2").isNull, col("tf")).otherwise(0L)).as("n_backoff"))
        .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
          (expr("cast(sdec * 1000000 as bigint) div n_bigrams").cast("double")
            / lit(1000000.0)).as("avg_score"))
        .orderBy("doc_id")
    }),

    // rank-biased overlap between the two halves' top-K token rankings
    // (Webber et al. 2010, truncated base RBO at K=30, p=1/2) — the
    // vocabulary-RANK drift monitor complementing q84's mass-based KL:
    // two splits can agree in bucket mass while their frequency
    // rankings reorder (or vice versa). p=1/2 is deliberate: its depth
    // weights are exact dyadic doubles (power(0.5, d) is IEEE-exact),
    // so the only inexactness is one a_d/d division per depth, rounded
    // to 6dp into DECIMAL and summed exactly — no float-summation
    // order anywhere. Everything after the two q51-shaped top-K
    // aggregations (partial agg + TakeOrderedAndProject) is
    // aggregate-sized: the rank join is K x K, the depth sweep 30
    // rows. The row_number windows order 30-row relations — the
    // allowed aggregate-sized window case.
    "q112_rank_overlap" -> ((s, d) => {
      val k = 30
      val tf = t(s, d, "documents")
        .select((col("doc_id") % 2).cast("int").as("side"),
          explode(TF.tokens(col("text"))).as("token"))
        .groupBy("side", "token").agg(count(lit(1)).as("freq"))
        .ckptLazy // two consumers: the two sides
      def topK(side: Int) = tf.where(col("side") === side)
        .orderBy(col("freq").desc, col("token")).limit(k)
        .withColumn("r",
          row_number().over(Window.orderBy(col("freq").desc, col("token"))))
      val md = topK(0).select(col("token"), col("r").as("ra"))
        .join(topK(1).select(col("token"), col("r").as("rb")), "token")
        .select(greatest(col("ra"), col("rb")).as("mr"))
      val terms = s.range(1, k + 1).select(col("id").cast("int").as("dpt"))
        .join(md, col("mr") <= col("dpt"), "left")
        .groupBy("dpt").agg(count(col("mr")).as("a_d"))
        .withColumn("term",
          round(pow(lit(0.5), col("dpt")) * col("a_d") / col("dpt"), 6)
            .cast(DecimalType(18, 6)))
      terms.agg(max(when(col("dpt") === k, col("a_d"))).as("n_common"),
          sum("term").as("rbo_dec"))
        .select(lit(k).as("depth"), col("n_common"),
          round(col("rbo_dec"), 6).cast("double").as("rbo"))
        .orderBy("depth")
    }),

    // MinHash CONTAINMENT pairs (Broder 1997's second resemblance
    // measure): |A n B| / min(|A|, |B|) — the asymmetric near-dup
    // Jaccard dedup structurally misses (a quote or excerpt inside a
    // larger document scores containment ~1 but Jaccard ~|A|/|B|).
    // Reported pairs are exactly those: containment >= 0.8 AND
    // jaccard < 0.5 (round-before-threshold both). Candidates come
    // from RARE-SHINGLE blocking (q108's df-capped posting join — a
    // contained doc shares its rare shingles with its container, so
    // recall needs only ONE shared shingle below the cap), NOT from
    // jaccard-LSH banding, whose collision probability decays with
    // jaccard and misses exactly the asymmetric pairs this query
    // exists to find. The fixture has no length-asymmetric duplicates
    // (generator emits same-length template variants — probed: zero
    // pairs at any threshold), so excerpt docs are derived
    // deterministically IN the query (first half of every doc_id%37
    // doc, id-offset by 1e6), identically in the oracle — the q106
    // augmentation pattern: the operator is proven on real asymmetric
    // dups, not vacuously green.
    "q113_containment_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") % 37 === 0)
          .withColumn("tk", TF.tokens(col("text")))
          .select((col("doc_id") + 1000000L).as("doc_id"),
            expr("concat_ws(' ', slice(tk, 1, size(tk) div 2))").as("text")))
      // oracle pins the explicit cap; production default DfCapAuto →
      // dfCapFor(n_docs) (r9 verdict #1)
      Similarity.containmentPairs(base, "doc_id", "text",
          shingleN = 3, dfCap = 20L, minContainment = 0.8, maxJaccard = 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // power-of-two padding-waste report — the batch-shape planner for
    // training ingestion (sequences pad to fixed power-of-two lengths;
    // this is the cost table a pipeline owner reads before picking
    // bucket boundaries, complementing q61's packer): per 2^k bucket,
    // docs, real tokens, padded tokens, waste fraction. One
    // partial-aggregated groupBy over a codegen'd projection. Parity:
    // bucket = 2^ceil(log2(n)) — log2 of an exact small integer is
    // exact IEEE at powers of two and has huge margin elsewhere, so
    // ceil agrees across engines; everything after is exact integers
    // and one rounded division.
    "q110_padding_waste" -> ((s, d) =>
      t(s, d, "documents")
        .select(TF.bpeTokenCount(col("text")).cast("long").as("n"))
        .where(col("n") > 0)
        .withColumn("bucket",
          expr("cast(power(2, ceil(log2(cast(n as double)))) as bigint)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
        .withColumn("n_padded", col("bucket") * col("n_docs"))
        .select(col("bucket"), col("n_docs"), col("n_tokens"), col("n_padded"),
          round((col("n_padded") - col("n_tokens")).cast("double") / col("n_padded"), 6)
            .as("waste_frac"))
        .orderBy("bucket")),

    // Markov next-event backtest — the evaluation harness shape (train
    // on the past, score on the future) applied to q78's transition
    // structure: transitions BEFORE the corpus time midpoint train a
    // first-order next-event model (argmax per prev type, count-desc
    // tie-broken), transitions after it are scored top-1. The split
    // scalar is the exact integer midpoint broadcast (the q05 pattern);
    // the model is |types|^2 aggregate-sized and broadcast back; the
    // per-user lead window is the established un-skewed case. A prev
    // type unseen in training predicts null and scores zero — identical
    // in both engines. Counts exact; accuracy one double division.
    // Boundary convention: a (prev, next) transition is assigned to
    // train/test by the FIRST event's timestamp (us < mid trains), so a
    // transition straddling the midpoint trains on a post-split next
    // event — a deliberate, documented convention mirrored exactly in
    // the oracle. Strict-causality variants would split on the NEXT
    // event's timestamp; the report's semantics don't change, only
    // which side the straddling transitions land on.
    "q103_markov_backtest" -> ((s, d) => {
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_id"), tsMicros.as("us"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val pairs = e
        .withColumn("next", lead("event_type", 1).over(w))
        .where(col("next").isNotNull)
        .ckptLazy // two consumers: train counts, test scoring
      val split = e.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val train = pairs.crossJoin(broadcast(split)).where(col("us") < col("mid"))
      val model = train
        .groupBy(col("event_type").as("prev"), col("next").as("pred"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("prev").orderBy(col("cnt").desc, col("pred"))))
        .where(col("rnk") === 1).select(col("prev"), col("pred"))
      pairs.crossJoin(broadcast(split)).where(col("us") >= col("mid"))
        .join(broadcast(model), col("event_type") === col("prev"), "left")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("pred") === col("next"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("event_type"), col("n_test"), col("n_correct"),
          round(col("n_correct").cast("double") / col("n_test").cast("double"), 6)
            .as("accuracy"))
        .orderBy("event_type")
    }),

    // frequent token-pair mining with Apriori pruning (Agrawal & Srikant
    // 1994): co-occurring token pairs within documents, support-counted
    // — the itemset miner behind phrase/topic seeding. The scale story
    // IS the pruning: a pair's support cannot exceed either member's
    // document frequency, so tokens below minsup are dropped BEFORE the
    // within-doc pair explode (lossless for pairs >= minsup) — the
    // quadratic explode runs over each doc's FREQUENT-distinct-token
    // list only. df counts are a partial-aggregated groupBy; the
    // per-doc pair generation is doc-bounded; top-20 rounded-free
    // integer ordering. minsup is absolute here for oracle determinism;
    // production expresses it as a corpus fraction (same sizing-rule
    // pattern as lshBitsFor).
    "q101_frequent_pairs" -> ((s, d) => {
      val minsup = 20L
      val docTok = t(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokenSet(col("text"))).as("token"))
        .ckptLazy // two consumers: df counts, pair explode
      val freq = docTok.groupBy("token").agg(count(lit(1)).as("df"))
        .where(col("df") >= minsup)
      docTok.join(freq.select("token"), Seq("token"))
        .groupBy("doc_id").agg(sort_array(collect_list("token")).as("ts"))
        .select(explode(expr(
          "flatten(transform(ts, (x, i) -> " +
            "transform(slice(ts, i + 2, size(ts)), y -> concat(x, ' ', y))))")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("support"))
        .where(col("support") >= minsup)
        .orderBy(col("support").desc, col("pair"))
        .limit(20)
    }),

    // label-centroid cosine similarity matrix — the embedding-space
    // collapse/drift diagnostic (centroids drifting together = labels
    // becoming indistinguishable in the space): pairwise cosine over
    // q48's integer-quantized centroid SUMS, so every dot product and
    // norm is exact integer arithmetic and the only float op is one
    // sqrt-ratio per pair, identical both engines, round 6. The
    // centroid table is (labels x 64) — everything here is
    // aggregate-sized after q48's one posexplode shuffle.
    "q102_centroid_similarity" -> ((s, d) => {
      val cs = t(s, d, "embeddings")
        .select(col("label"),
          posexplode(Similarity.quantized(col("embedding"))).as(Seq("pos", "qv")))
        .groupBy("label", "pos").agg(sum("qv").as("sq"))
        .ckptLazy // self-joined
      val pairs = cs.as("a").join(cs.as("b"),
          col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(col("a.sq") * col("b.sq")).as("dot"),
          sum(col("a.sq") * col("a.sq")).as("na"),
          sum(col("b.sq") * col("b.sq")).as("nb"))
      pairs.select(col("label_a"), col("label_b"),
          round(col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
            .as("cosine"))
        .orderBy("label_a", "label_b")
    }),

    // the dataset card — the per-language summary table a dataset
    // release ships (docs, tokens, quality, median length, duplicate
    // fraction, dominant source): ONE scored corpus pass (quality +
    // token count + content hash, the q44/q97 scored projection) rides
    // a localCheckpoint into three aggregate consumers; the dup flag is
    // q21's hash groupBy joined back; the dominant source is a rank-1
    // row over the aggregate-sized (lang, source) table. Float policy
    // mirrors q44 (round(avg(q),6)) and q56 (exact percentiles).
    "q100_dataset_card" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          TF.qualityScore(col("text")).as("q"),
          TF.bpeTokenCount(col("text")).as("toks"),
          md5(col("text")).as("content_hash"))
        .ckptLazy // three consumers: dup hashes, stats, sources
      val dupHashes = base.groupBy("content_hash").agg(count(lit(1)).as("dc"))
      val stats = base.join(dupHashes, "content_hash")
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
          round(avg("q"), 6).as("mean_quality"),
          expr("percentile(n_chars, 0.5D)").as("p50c"),
          sum(when(col("dc") > 1, 1L).otherwise(0L)).as("n_dup"))
      val topSource = base.groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("lang").orderBy(col("cnt").desc, col("source"))))
        .where(col("rnk") === 1)
        .select(col("lang"), col("source").as("top_source"))
      stats.join(topSource, "lang")
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("mean_quality"),
          round(col("p50c"), 6).as("p50_chars"),
          round(col("n_dup").cast("double") / col("n_docs").cast("double"), 6)
            .as("dup_doc_frac"),
          col("top_source"))
        .orderBy("lang")
    }),

    // Zipf slope of the token frequency curve — the tail-index companion
    // to q82's Heaps law: fit log2(freq) = slope * log2(rank) + b over
    // the top-100 vocabulary head (the linear regime). Float-sum hazard
    // neutralized by the micro-scaling rule: each log2 rounds to an
    // exact micro-scaled BIGINT, so the five OLS moments are exact
    // integer sums (order-free in any engine) and slope/intercept are
    // single double divisions of exact integers; the 1e6 scale cancels
    // in the slope. The 100-row head is aggregate-sized: its ranking
    // window and moments are driver-trivial, while the vocabulary count
    // below stays the q51 partial-agg + TakeOrderedAndProject shape.
    "q98_zipf_slope" -> ((s, d) => {
      val top = t(s, d, "documents")
        .select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(100)
      val ranked = top
        .withColumn("rank",
          row_number().over(Window.orderBy(col("freq").desc, col("token"))).cast("long"))
        .select(
          expr("cast(round(log2(cast(rank as double)) * 1e6, 0) as bigint)").as("x"),
          expr("cast(round(log2(cast(freq as double)) * 1e6, 0) as bigint)").as("y"))
      val m = ranked.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      // The top-100 head bounds every BIGINT sum (micro-scaled log2 values
      // stay < 1e8, so sxy < ~3.3e16), but n*sxy sits within 3x of Long.Max
      // at extreme corpus frequencies — take the q95 DECIMAL(38) discipline
      // on the final moment products for headroom. The decimal value is the
      // same exact integer the oracle's BIGINT product holds, so the
      // double division is bit-identical.
      val dec98 = DecimalType(38, 0)
      val slopeRaw =
        (col("n").cast(dec98) * col("sxy") - col("sx").cast(dec98) * col("sy")).cast("double") /
          (col("n").cast(dec98) * col("sxx") - col("sx").cast(dec98) * col("sx")).cast("double")
      m.select(col("n").as("n_points"),
          round(slopeRaw, 6).as("slope"),
          round((col("sy").cast("double") / 1e6 -
            slopeRaw * (col("sx").cast("double") / 1e6)) / col("n").cast("double"), 6)
            .as("intercept_log2"))
        .orderBy("n_points")
    }),

    // seasonal anomaly flags over the event stream: per (event_type,
    // hour-of-day) baseline from hourly counts, spikes by z-score — the
    // rate-monitor every event pipeline runs against its own seasonality
    // (a 9 a.m. surge is normal at 9 a.m., anomalous at 3 a.m.). Hourly
    // counts and the 24x|types| baseline are partial-aggregated; the
    // baseline broadcasts back. Variance rides exact integer moments
    // (k*snn - sn^2), z is one double expression both engines share,
    // rounded BEFORE the >= 2 spike decision (the q44 gate discipline).
    "q99_seasonal_anomaly" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .select(expr("ts div 3600000000").as("bucket"), col("event_type"))
        .groupBy("bucket", "event_type").agg(count(lit(1)).as("n"))
        .withColumn("hod", col("bucket") % 24)
      val base = hourly.groupBy("event_type", "hod").agg(
        count(lit(1)).as("k"), sum("n").as("sn"),
        sum(col("n") * col("n")).as("snn"))
      val mean = col("sn").cast("double") / col("k").cast("double")
      val variance = (col("k") * col("snn") - col("sn") * col("sn")).cast("double") /
        (col("k") * (col("k") - 1)).cast("double")
      hourly.join(broadcast(base), Seq("event_type", "hod"))
        .where(col("k") >= 2)
        .withColumn("z", round((col("n").cast("double") - mean) / sqrt(variance), 6))
        .where(col("z") >= 2.0)
        .select(col("event_type"), col("bucket"), col("hod"), col("n"), col("z"))
        .orderBy("event_type", "bucket")
    }),

    // robust dispersion per group: median absolute deviation of document
    // lengths — the outlier-resistant spread statistic a corpus report
    // pairs with q56's quantiles (stddev is hostage to a single giant
    // document; MAD is not). Two grouped exact percentiles with the
    // aggregate-sized median table broadcast back between them. Parity:
    // medians of integers and of the derived |x - med| halves are exact
    // dyadic doubles in both engines' interpolation forms, so round 6
    // is cosmetic, not load-bearing. At 100 TB the same shape swaps in
    // approx_percentile partials (the q56 note; QuantileSketchSpec pins
    // the sketch error).
    "q94_mad_lengths" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("lang"), col("n_chars"))
      val med = docs.groupBy("lang")
        .agg(expr("percentile(n_chars, 0.5D)").as("med"))
      docs.join(broadcast(med), "lang")
        .select(col("lang"), col("med"),
          abs(col("n_chars").cast("double") - col("med")).as("dev"))
        .groupBy("lang", "med")
        .agg(count(lit(1)).as("n_docs"), expr("percentile(dev, 0.5D)").as("mad"))
        .select(col("lang"), col("n_docs"),
          round(col("med"), 6).as("median_chars"),
          round(col("mad"), 6).as("mad_chars"))
        .orderBy("lang")
    }),

    // grouped OLS — tokens-per-character regression per language (the
    // fertility line a budget planner fits: how many whitespace tokens
    // a character of this language buys). Five exact-integer moments
    // from ONE partial-aggregated pass; slope/intercept are closed-form
    // ratios of DECIMAL(38)-exact moment products (bigint products
    // would overflow at petabyte corpus scale), one double division
    // each, identical expression structure in the oracle. The unrounded
    // slope feeds the intercept, mirrored in SQL, so rounding cannot
    // cascade.
    "q95_ols_tokens_chars" -> ((s, d) => {
      val xy = t(s, d, "documents")
        .select(col("lang"), col("n_chars").as("x"),
          TF.tokenCount(col("text")).cast("long").as("y"))
      val dec = DecimalType(38, 0)
      // The per-row products fit a BIGINT (counts <= ~1e9 per doc), but the
      // SUMS are cast to DECIMAL(38) *before* aggregation: at petabyte row
      // counts a BIGINT sum would wrap silently with ANSI off while the
      // DuckDB oracle's HUGEINT sum would not — a quiet divergence instead
      // of a loud failure. Decimal sums stay exact to 38 digits.
      val m = xy.groupBy("lang").agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"))
      val slopeRaw =
        (col("n").cast(dec) * col("sxy") - col("sx").cast(dec) * col("sy")).cast("double") /
          (col("n").cast(dec) * col("sxx") - col("sx").cast(dec) * col("sx")).cast("double")
      m.select(col("lang"), col("n"),
          round(slopeRaw, 6).as("slope"),
          round((col("sy").cast("double") - slopeRaw * col("sx").cast("double")) /
            col("n").cast("double"), 6).as("intercept"))
        .orderBy("lang")
    }),

    // cohort retention matrix — the temporal engagement report every
    // event pipeline ships (cohort = a user's first active week; cell
    // (c, k) = how many of cohort c's users were active in week c+k).
    // Shape: ONE distinct over (user, week) — partial-aggregated, the
    // corpus-sized step — then user-keyed aggregate joins and an
    // aggregate-sized (weeks x offsets) result with cohort sizes
    // broadcast back. No window functions anywhere; user_id is
    // high-cardinality and un-skewed, weeks are bounded by calendar
    // time. Integer week arithmetic end to end; retention is one double
    // division of exact counts, round 6.
    "q91_retention_cohorts" -> ((s, d) => {
      val weekUs = 7L * 86400L * 1000000L
      val uw = t(s, d, "events")
        .select(col("user_id"), expr(s"ts div $weekUs").as("week"))
        .distinct()
        .ckptLazy // two consumers: cohort mins, activity join
      val cohort = uw.groupBy("user_id").agg(min("week").as("cohort_week"))
      val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("n_cohort"))
      uw.join(cohort, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users")) // rows are (user, week)-distinct
        .join(broadcast(sizes), "cohort_week")
        .select(col("cohort_week"), col("week_offset"), col("n_users"), col("n_cohort"),
          round(col("n_users").cast("double") / col("n_cohort").cast("double"), 6)
            .as("retention"))
        .orderBy("cohort_week", "week_offset")
    }),

    // NPMI collocation mining (Bouma 2009 — the phrase-detection score
    // behind word2vec-phrases and topic-coherence metrics): npmi(w1,w2)
    // = ln(p12/(p1*p2)) / -ln(p12) in [-1, 1], ranked to surface the
    // multiword units a tokenizer or phrase vocabulary should learn;
    // the c12 count floor keeps rare-pair noise out (PMI's classic
    // failure mode). Distinct from q72 (which SCORES documents by
    // conditional surprisal): this ranks the PAIRS themselves by
    // association. Shape: unigram and bigram tables are
    // partial-aggregated groupBys; all joins are on already-aggregated
    // vocabulary keys (never a window over the Zipfian token key); the
    // two corpus totals broadcast as singletons; rounded-then-ordered
    // top-20 with a unique (w1, w2) tie-break compiles to
    // TakeOrderedAndProject. Parity: counts exact ints; both logs
    // taken of ratio expressions built in the same order from the same
    // exact ints; round 6 after all arithmetic, before the ordering.
    "q90_npmi_collocations" -> ((s, d) => {
      val uni = t(s, d, "documents")
        .select(explode(TF.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .ckptLazy // three consumers: w1 side, w2 side, total
      val n1 = uni.agg(sum("c").as("n1"))
      val bi = t(s, d, "documents")
        .withColumn("tk", TF.tokens(col("text")))
        .select(explode(expr(
          "zip_with(slice(tk, 1, size(tk)-1), slice(tk, 2, size(tk)-1)," +
            " (a, b) -> concat(a, ' ', b))")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c12"))
        .ckptLazy // two consumers: pair scoring, total
      val n2 = bi.agg(sum("c12").as("n2"))
      bi.where(col("c12") >= 10)
        .withColumn("w1", expr("split_part(bigram, ' ', 1)"))
        .withColumn("w2", expr("split_part(bigram, ' ', 2)"))
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .withColumn("p12", col("c12").cast("double") / col("n2").cast("double"))
        .withColumn("npmi", round(
          log(col("p12") /
            ((col("c1").cast("double") / col("n1").cast("double")) *
              (col("c2").cast("double") / col("n1").cast("double")))) /
            -log(col("p12")), 6))
        .select(col("w1"), col("w2"), col("c12"), col("npmi"))
        .orderBy(col("npmi").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // corpus-wide exact top-K tokens — the vocabulary head every corpus
    // report starts with. explode -> count -> global top-K compiles to
    // partial aggregation + TakeOrderedAndProject (per-partition heaps,
    // only K rows reach the driver-side merge), so the full sort of the
    // vocabulary never materializes. Ties break on the token itself
    "q51_top_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)),

    // gap-based sessionization — the event-pipeline primitive behind
    // session windows: a session breaks where a user's inter-event gap
    // exceeds 12 h. lag -> flag -> running sum assigns ids in ONE keyed
    // shuffle + sorted pass (the same shape Structured Streaming's
    // session_window uses with state); all arithmetic is integer
    // microseconds, so the oracle is exact
    "q50_sessionize" -> ((s, d) => {
      val gapUs = 43200L * 1000000L // 12 h
      val e = t(s, d, "events").select(col("user_id"), col("event_id"), tsMicros.as("us"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      e.withColumn("new_s",
          when(lag("us", 1).over(w).isNull ||
            col("us") - lag("us", 1).over(w) > gapUs, 1L).otherwise(0L))
        .withColumn("session_id",
          sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("us").as("start_us"), max("us").as("end_us"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
        .orderBy("user_id", "session_id")
    }),

    // per-label embedding centroids (mean pooling — the building block of
    // class prototypes, cluster seeding and embedding-drift monitoring).
    // Pooling happens in QUANTIZED INTEGER space (floor(x*1024), exact
    // for float input — q30's trick): integer sums are associativity-free
    // so an independent engine reproduces the centroid bit-for-bit, where
    // a raw float mean would depend on each engine's parallel reduction
    // order. One posexplode -> (label, pos) groupBy with map-side partial
    // aggregation; rows x dim through the single shuffle.
    "q48_label_centroid" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      e.select(col("label"),
        posexplode(Similarity.quantized(col("embedding"))).as(Seq("pos", "qv")))
        .groupBy("label", "pos")
        .agg(sum("qv").as("sq"), count(lit(1)).as("n"))
        .select(col("label"), col("pos"),
          round(col("sq").cast("double") / col("n") / 1024.0, 6).as("centroid"))
        .orderBy("label", "pos")
    }),

    // benchmark decontamination — the pipeline step that keeps eval sets
    // out of training data: flag every training doc sharing a word 3-gram
    // with the held-out set (doc_id % 97 == 0 stands in for the eval
    // split). Scale shape: the held-out shingle set is small by
    // construction (eval sets are thousands of docs, not billions) so it
    // BROADCASTS; the corpus side is a narrow explode -> semi-join ->
    // count, ids+counts through the one shuffle. No corpus self-join.
    "q45_decontamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (heldout, corpusShingles) = contaminationSides(docs)
      val hits = corpusShingles
        .join(broadcast(heldout), Seq("shingle"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      docs.where(col("doc_id") % 97 =!= 0).select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_contaminated_shingles"),
          (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
        .orderBy("doc_id")
    }),

    // deterministic train/val/test split: an md5 hash bucket of the doc
    // id (q18's oracle-checkable sampling, promoted to a full split) with
    // the per-split token budget a data-mixture plan needs. Pure
    // map-side hash + one groupBy — nothing about the split needs a
    // central coordinator at any corpus size, and the assignment is
    // reproducible from the id alone in any engine
    "q46_hash_split" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val h = md5(col("doc_id").cast("string").cast("binary"))
      docs.select(col("doc_id"), col("lang"),
        when(h < "0d", "test").when(h < "1a", "val").otherwise("train").as("split"),
        TF.bpeTokenCount(col("text")).as("toks"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
        .orderBy("split", "lang")
    }),

    // within-document repetition scoring (the Gopher/RefinedWeb-style
    // quality signal exact dedup can't see): duplicate-token and
    // duplicate-bigram fractions. One fused kernel call per row computes
    // all four counters in a single pass (the column form's four
    // interpreted HOF walks per document measured 45 s at sf0.1 — the
    // same per-element-lambda cliff q26/q27 hit in round 2); the
    // fractions stay column arithmetic so the float boundary matches the
    // oracle exactly. No shuffle.
    "q47_repetition" -> ((s, d) => {
      val rep = udf((text: String) => graft.functions.ShingleKernel.repetitionCounts(text))
      t(s, d, "documents")
        .select(col("doc_id"), rep(col("text")).as("r"))
        .select(col("doc_id"),
          col("r").getItem(0).as("n_tokens"),
          round(lit(1.0) -
            col("r").getItem(1).cast("double") / col("r").getItem(0).cast("double"), 6)
            .as("dup_token_frac"),
          round(when(col("r").getItem(2) > 0,
            lit(1.0) -
              col("r").getItem(3).cast("double") / col("r").getItem(2).cast("double"))
            .otherwise(0.0), 6).as("dup_bigram_frac"))
        .orderBy("doc_id")
    }),

    // the q26 near-dup graph collapsed to canonical clusters by
    // distributed min-label propagation (one edge-list shuffle per round,
    // O(log component diameter) rounds via pointer jumping) — "keep one
    // per cluster" becomes a filter on cluster_id = doc_id
    "q43_dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
        k = 64, bands = 16, shingleN = 3, threshold = 0.5,
          hotBucketCap = Int.MaxValue /* oracle: exact all-pairs banding */)
      Dedup.dupClusters(pairs).orderBy("doc_id")
    }),

    // corpus TF-IDF top-3 terms per document — the classic relevance
    // weighting tf * ln(N/df). The corpus is scanned and tokenized ONCE:
    // the (doc_id, token) tf aggregate is MATERIALIZED ONCE (lazy
    // localCheckpoint), document frequency is
    // a partial-aggregated groupBy(token) over it (each tf row = one
    // distinct doc containing the token) joined back. A window partitioned
    // by token would put every tf row of one token in ONE task — token
    // frequencies are Zipfian, so at 1B docs the "the" partition is ~1B
    // rows with no partial aggregation and no AQE rescue (skew handling
    // does not apply to windows). The groupBy collapses the hot token
    // map-side to one row per map partition (HotTokenSpec proves <1% of
    // input rows cross the shuffle on a 90%-hot fixture); the join back is
    // AQE-skew-splittable and broadcastable when the vocabulary is small.
    // The 1-row corpus count is a footer-only scan, broadcast. Ranking
    // uses the ROUNDED score (the q38 determinism rule: round before any
    // ordering decision) with the token as tiebreak; the rank<=3 predicate
    // compiles to WindowGroupLimit per-partition heaps (the remaining
    // window partitions by doc_id — bounded by document length, not
    // corpus size).
    "q52_tfidf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tf = docs
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .ckptLazy
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val ndocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
      tf.join(dfreq, Seq("token"))
        .crossJoin(broadcast(ndocs))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("token"), col("tfidf"))
        .orderBy("doc_id", "rank")
    }),

    // hierarchical token budget: ROLLUP (lang, source) gives the
    // per-source, per-language and grand-total rows a data-mixture report
    // needs in ONE aggregation (Spark expands grouping sets map-side;
    // still a single shuffle). grouping() marks subtotal rows — folded to
    // the '(all)' sentinel so the sort and the oracle agree on NULLs.
    "q53_rollup_budget" -> ((s, d) =>
      t(s, d, "documents")
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
          grouping(col("lang")).as("gl"), grouping(col("source")).as("gs"))
        .select(
          when(col("gl") === 1, lit("(all)")).otherwise(col("lang")).as("lang"),
          when(col("gs") === 1, lit("(all)")).otherwise(col("source")).as("source"),
          col("n_docs"), col("n_chars"))
        .orderBy("lang", "source")),

    // long->wide pivot of per-user event counts over the CLOSED set of
    // event types. The explicit value list matters twice: it keeps the
    // output schema deterministic (a discovery pass over 100 TB just to
    // learn column names is a wasted scan) and it lets pivot compile to
    // one count-per-(user, type) partial aggregation — a single shuffle.
    "q54_pivot_events" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, d, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +: types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .orderBy("user_id")
    }),

    // trailing 1-hour rolling stats per event — the feature-engineering
    // primitive behind rate limits and burst detection. RANGE frame over
    // integer microseconds: one keyed shuffle + sorted pass, state
    // bounded by the hour span. The sum rides a DECIMAL cast so the
    // frame's running arithmetic is exact in both engines, and the mean
    // is the q62 micro-scaled integer form — round(sum/n, 6) is itself a
    // cross-engine hazard on .5-at-6dp boundaries of the same double
    // (BASELINE.md boundary discipline). The sum is non-negative (value
    // >= 0), so Spark's truncating `div` and DuckDB's floor `//` agree.
    "q55_rolling_window" -> ((s, d) => {
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_id"), tsMicros.as("us"), col("value"))
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-3600L * 1000000L, 0L)
      e.select(col("event_id"), col("user_id"), col("us"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast(DecimalType(18, 2))).over(w).as("sum_dec"))
        .select(col("event_id"), col("user_id"), col("us"), col("n_1h"),
          col("sum_dec").cast("double").as("sum_1h"),
          (expr("cast(sum_dec * 1000000 as bigint) div n_1h").cast("double")
            / lit(1000000.0)).as("avg_1h"))
        .orderBy("event_id")
    }),

    // exact per-language document-length quantiles (p50/p90/p99 with
    // linear interpolation). Exact percentile buffers each group's values
    // — fine for per-language groups here and the oracle-able semantics;
    // at 100 TB the same query shape swaps in approx_percentile (KLL
    // sketch, mergeable partials, no buffering) — QuantileSketchSpec
    // pins the sketch's error against this exact path.
    "q56_length_quantiles" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(expr("percentile(n_chars, array(0.5D, 0.9D, 0.99D))").as("qs"),
          count(lit(1)).as("n_docs"))
        .select(col("lang"), col("n_docs"),
          round(col("qs").getItem(0), 6).as("p50"),
          round(col("qs").getItem(1), 6).as("p90"),
          round(col("qs").getItem(2), 6).as("p99"))
        .orderBy("lang")),

    // clean-corpus extraction: q45's complement expressed with the two
    // join types a curation pipeline lives on — LEFT SEMI to find docs
    // sharing any held-out 3-gram (broadcast, ids only through the
    // shuffle), then LEFT ANTI to keep everything else. Anti join is the
    // set-complement operator: no payload from the right side, so the
    // join ships (id, id) pairs however large the corpus.
    "q57_anti_join" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (heldout, corpusShingles) = contaminationSides(docs)
      val contaminated = corpusShingles
        .join(broadcast(heldout), Seq("shingle"), "left_semi")
        .select("doc_id").distinct()
      docs.where(col("doc_id") % 97 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // the two relational set operators the inventory still lacked:
    // word bigrams attested in BOTH en and de corpora (INTERSECT) minus
    // those also attested in fr (EXCEPT) — single-token vocabularies are
    // shared across the whole corpus, so bigrams are the smallest unit
    // where the result discriminates. Both operators compile to
    // aggregate/join plans over distinct bigram sets, one shuffle each.
    "q58_set_ops" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def langBigrams(lang: String) = docs.where(col("lang") === lang)
        .withColumn("tk", TF.tokens(col("text")))
        .select(explode(expr(
          "zip_with(slice(tk, 1, size(tk)-1), slice(tk, 2, size(tk)-1)," +
            " (a, b) -> concat(a, ' ', b))")).as("bigram"))
        .distinct()
      langBigrams("en").intersect(langBigrams("de"))
        .except(langBigrams("fr"))
        .orderBy("bigram")
    }),

    // data-mixture subsampling under a token budget: each language keeps
    // a deterministic md5-ordered greedy prefix of its docs until 20% of
    // its token mass is reached — how a mixture plan downsamples an
    // over-represented source without a coordinator (the hash order is
    // reproducible from ids alone; all arithmetic integer-exact).
    // Computed TWO-LEVEL (CorpusSharding.tokenBudgetPrefix): per-(lang,
    // shard) running sums + an aggregate-sized shard-offset join — a
    // single per-language window would serialize each language (few,
    // huge) through one task at corpus scale. The hash order is
    // shard-major, so the two-level form is exactly the single-window
    // answer for every shard count (ShardingSpec proves p=1 == p=2);
    // the shard count scales with the corpus via shardHexCharsFor.
    "q59_token_budget" -> ((s, d) =>
      CorpusSharding.tokenBudgetPrefix(t(s, d, "documents"),
          TF.bpeTokenCount(col("text")), prefixHexChars = 1, budgetDenom = 5)
        .groupBy("lang")
        .agg(max("budget").as("budget"), count(lit(1)).as("n_docs_kept"),
          sum("toks").as("n_tokens_kept"))
        .orderBy("lang")),

    // document chunking — the pre-tokenization splitter every training
    // pipeline runs: 64-token windows at stride 48 (16-token overlap so
    // no boundary context is lost). Pure per-row generate + slice:
    // narrow, no shuffle, chunk ids reproducible from the doc alone.
    "q60_chunking" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("tk", TF.tokens(col("text")))
        // split() never yields an empty array for non-null text, but a
        // null doc must drop cleanly (DuckDB's range() does; Spark's
        // ascending sequence(0, -1) would throw), size(null) = -1
        .where(size(col("tk")) > 0)
        .select(col("doc_id"),
          posexplode(expr("sequence(0, size(tk)-1, 48)")).as(Seq("chunk_id", "start")),
          col("tk"))
        .select(col("doc_id"), col("chunk_id"),
          expr("slice(tk, start+1, 64)").as("chunk"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).as("n_chunk_tokens"),
          md5(expr("cast(array_join(chunk, ' ') as binary)")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // greedy sequence packing — filling fixed-length training examples:
    // docs ride a deterministic md5 order, a running token sum assigns
    // pack_id = cum div 2048 (first-fit in hash order). Packing happens
    // WITHIN 16^p hash shards, not one global order — the window is
    // partitioned, so the pass parallelizes like any keyed shuffle and a
    // coordinator-free writer can emit shards independently; a global
    // greedy order would serialize the corpus through one partition. The
    // shard count is a PARAMETER (CorpusSharding.shardHexCharsFor sizes
    // p so each shard stays ~1M docs at any corpus size — p=3 at 1B
    // docs); the oracle pins the fixture-scale p=1. Conservation (every
    // doc in exactly one pack, token mass preserved) holds for every p
    // (ShardingSpec).
    "q61_packing" -> ((s, d) =>
      CorpusSharding.packShards(t(s, d, "documents"),
          TF.bpeTokenCount(col("text")), prefixHexChars = 1, packTokens = 2048L)
        .orderBy("shard", "pack_id")),

    // unigram surprisal scoring — the language-model quality filter
    // (CCNet-style) with the corpus itself as the model: a doc's mean
    // -log2 p(token) under corpus unigram frequencies. Same one-tokenize
    // shape as q52 (tf aggregate materialized once via lazy
    // localCheckpoint — blocks freed by the ContextCleaner, no catalog
    // cache entry; vocab counts via a
    // partial-aggregated groupBy(token) joined back — NOT a token-keyed
    // window, which would serialize each Zipfian-hot token through one
    // task; 1-row total broadcast); per-token surprisal is rounded to 6dp
    // THEN summed as DECIMAL so the per-doc sum is association-order-free
    // — the only cross-engine float hazard in a floating aggregation.
    "q62_unigram_surprisal" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .ckptLazy
      val vocab = tf.groupBy("token").agg(sum("tf").as("cnt"))
      val totals = tf.agg(sum("tf").as("total"))
      tf.join(vocab, Seq("token"))
        .crossJoin(broadcast(totals))
        .withColumn("term",
          round(log2(col("total").cast("double") / col("cnt")), 6)
            .cast(DecimalType(18, 6)))
        .groupBy("doc_id")
        .agg(sum(col("term") * col("tf")).as("sdec"), sum("tf").as("n_tokens"))
        // the mean stays in integer space: micro-scaled exact sum,
        // integer division, one exact float division at the end. A final
        // round(sum/n, 6) would re-open the cross-engine hazard — the
        // engines' round() implementations themselves split on .5-at-6dp
        // boundaries of the same double (observed at sf0.1)
        .select(col("doc_id"), col("n_tokens"),
          (expr("cast(sdec * 1000000 as bigint) div n_tokens").cast("double")
            / lit(1000000.0)).as("avg_surprisal"))
        .orderBy("doc_id")
    }),

    // bigram conditional surprisal — the next LM-quality rung above
    // q62's unigram model: a doc's mean -log2 P(w2|w1) with the corpus
    // as the model, P = c(w1 w2) / c(w1 as left context), so every
    // probability is a ratio of exact corpus counts and every scored
    // bigram is in-model by construction. Same de-skew shape as
    // q52/q62: the per-doc bigram tf is materialized once, corpus bigram
    // counts and
    // left-context counts are partial-aggregated groupBys joined back
    // (never a window over the Zipfian bigram/context keys); the mean
    // rides the round-then-DECIMAL-sum + micro-scaled-division
    // discipline.
    "q72_bigram_surprisal" -> ((s, d) => {
      val bt = t(s, d, "documents")
        .withColumn("tk", TF.tokens(col("text")))
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(tk, 1, size(tk)-1), slice(tk, 2, size(tk)-1)," +
            " (a, b) -> concat(a, ' ', b))")).as("bigram"))
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("tf"))
        .withColumn("w1", expr("split_part(bigram, ' ', 1)"))
        .ckptLazy
      val cb = bt.groupBy("w1", "bigram").agg(sum("tf").as("c2"))
      val c1 = cb.groupBy("w1").agg(sum("c2").as("c1"))
      bt.join(cb, Seq("w1", "bigram"))
        .join(c1, Seq("w1"))
        .withColumn("term",
          round(log2(col("c1").cast("double") / col("c2")), 6)
            .cast(DecimalType(18, 6)))
        .groupBy("doc_id")
        .agg(sum(col("term") * col("tf")).as("sdec"), sum("tf").as("n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"),
          (expr("cast(sdec * 1000000 as bigint) div n_bigrams").cast("double")
            / lit(1000000.0)).as("avg_surprisal"))
        .orderBy("doc_id")
    }),

    // feature hashing (the hashing trick / HashingTF): tokens map to a
    // fixed 64-bucket space by portable md5 (PortableHash convention),
    // with the companion SIGN hash (a second md5 nibble) that makes the
    // hashed estimator unbiased under collisions. The fixed-width output
    // is what downstream trainers consume when the vocabulary is
    // unbounded; one partial-aggregated shuffle on (doc, bucket), no
    // vocabulary state anywhere. All-integer -> exact in any engine.
    "q74_feature_hash" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .withColumn("bucket",
          expr("cast(conv(substr(md5(cast(token as binary)), 1, 8), 16, 10) as bigint) % 64"))
        .withColumn("sign",
          lit(1L) - lit(2L) *
            expr("cast(conv(substr(md5(cast(token as binary)), 9, 1), 16, 10) as bigint) % 2"))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("tf_sum"), sum("sign").as("signed_sum"))
        .orderBy("doc_id", "bucket")),

    // BM25 top-3 terms per document — the retrieval scorer TF-IDF
    // graduates into: IDF damped by the +0.5 smoothing, tf saturated by
    // k1, and document length normalized by b against the corpus mean.
    // Same de-skew shape as q52 (tf materialized once via lazy
    // localCheckpoint; df and per-doc length via
    // partial-aggregated groupBys joined back; 1-row corpus stats
    // broadcast). Every input to the formula is an exact integer (tf,
    // df, N, doc length, total tokens), the formula is evaluated
    // IDENTICALLY in both engines, and ranking uses the rounded score
    // (round-before-order discipline) with the token tiebreak.
    "q76_bm25" -> ((s, d) => {
      val (k1, b) = (1.2, 0.75)
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .ckptLazy
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val dlen = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val stats = tf.agg(countDistinct("doc_id").as("n_docs"), sum("tf").as("total_toks"))
      val w = Window.partitionBy("doc_id").orderBy(col("bm25").desc, col("token"))
      tf.join(dfreq, Seq("token"))
        .join(dlen, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("idf", log(
          (col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        .withColumn("norm",
          col("tf") * (k1 + 1) /
            (col("tf") + lit(k1) * (lit(1 - b) + col("dl") * lit(b) /
              (col("total_toks").cast("double") / col("n_docs")))))
        .withColumn("bm25", round(col("idf") * col("norm"), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("token"), col("bm25"))
        .orderBy("doc_id", "rank")
    }),

    // per-group z-score normalization — the feature-scaling primitive
    // training pipelines run before any model sees a numeric column.
    // The per-language moments are EXACT integer sums (count, sum,
    // sum-of-squares), broadcast back; z = (x*n - s) / sqrt(n*ss - s^2)
    // is one derivation over identical inputs in both engines, so the
    // doubles agree bit-for-bit before the final round. The variance
    // PRODUCTS are computed in double space — n*ss in long overflows
    // silently (non-ANSI wrap) at ~3M docs per language, the exact
    // invisible-at-fixture-scale divergence the scale rules forbid; the
    // double products lose the same low bits in both engines, so parity
    // is unaffected. One aggregate shuffle + a broadcast join; the
    // normalize itself is map-side.
    "q75_zscore_norm" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val m = docs.groupBy("lang").agg(
        count(lit(1)).as("n"), sum("n_chars").as("sm"),
        sum(col("n_chars") * col("n_chars")).as("ss"))
      // zero-variance guard (ADVICE r4): a single-doc or constant-length
      // stratum makes n*ss - sm² exactly 0, and 0/0 NaN semantics differ
      // across engines — emit NULL instead, decided on the SAME double
      // expression in both engines (<= 0 also absorbs any tiny negative
      // float residue)
      val varD = col("n").cast("double") * col("ss").cast("double") -
        col("sm").cast("double") * col("sm").cast("double")
      docs.join(broadcast(m), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round((col("n_chars") * col("n") - col("sm")).cast("double") /
            when(varD <= 0.0, lit(null)).otherwise(sqrt(varD)), 6)
            .as("z"))
        .orderBy("doc_id")
    }),

    // the Z-order curve itself, oracle-checked: Morton interleave of two
    // 12-bit event coordinates via shift-mask spreads — pure integer
    // arithmetic, bit-identical in any engine. Sorting by z is what
    // gives 2-D box predicates row-group locality (ZOrderSpec proves
    // the pruning on scan metrics); this query pins the curve's bits so
    // the layout is portable.
    "q73_zorder_curve" -> ((s, d) => {
      val e = t(s, d, "events").select(col("event_id"),
        (col("user_id") % 4096).as("ux"),
        (floor(col("value")).cast("long") % 4096).as("vy"))
      e.withColumn("z", graft.functions.ZOrder.zValue(col("ux"), col("vy")))
        .orderBy("event_id")
    }),

    // split-coverage report: per (lang, source) doc counts in train vs
    // test, FULL OUTER joined so a cell present in only one split still
    // appears (the test split is ~5% — most cells have no test docs).
    // The last join type the inventory lacked; both sides are aggregates,
    // so the join is cell-count-sized, not corpus-sized.
    "q63_full_outer" -> ((s, d) => {
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val base = t(s, d, "documents").select(col("lang"), col("source"),
        when(h < "0d", "test").otherwise("train").as("split"))
      val tr = base.where(col("split") === "train")
        .groupBy("lang", "source").agg(count(lit(1)).as("n_train"))
      val te = base.where(col("split") === "test")
        .groupBy("lang", "source").agg(count(lit(1)).as("n_test"))
      tr.join(te, Seq("lang", "source"), "full_outer")
        .select(col("lang"), col("source"),
          coalesce(col("n_train"), lit(0L)).as("n_train"),
          coalesce(col("n_test"), lit(0L)).as("n_test"))
        .orderBy("lang", "source")
    }),

    // the ranking-function trio the window surface still lacked:
    // per-language length deciles (ntile), percent_rank and cume_dist.
    // The (n_chars, doc_id) ordering is UNIQUE, so rank == row_number and
    // both ratios are single divisions of identical integers — exact
    // cross-engine with no round() (whose .5-boundary hazard q62 hit).
    "q64_rank_functions" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("decile", ntile(10).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .orderBy("doc_id")
    }),

    // nearest-centroid classification eval — the confusion matrix of a
    // mean-centroid inner-product classifier over the embeddings (the
    // drift/quality check run after every embedding refresh). Everything
    // that feeds the argmax is EXACT: quantized integer components, an
    // integer dot against each label's component SUM, and score =
    // double(dot)/n_members — one division of exact integers, so the
    // per-vector ranking is bit-identical cross-engine with no rounding
    // anywhere. The centroid table is (labels x 64) rows — broadcast;
    // the dense vector x label expansion partial-aggregates map-side.
    "q65_centroid_confusion" -> ((s, d) =>
      centroidConfusion(s, d).orderBy("true_label", "pred_label")),

    // Cohen's kappa over q65's centroid-vs-label confusion — the
    // chance-corrected agreement number a labeling/auto-classification
    // pipeline reports alongside raw accuracy (accuracy alone flatters
    // any skewed label distribution). Composes the SHARED
    // centroidConfusion definition (one source of truth with q65), so
    // the agreement statistics can't drift from the matrix they
    // describe; the confusion table is aggregate-sized (labels^2), so
    // every downstream aggregate is driver-trivial and broadcast.
    // Parity: all counts exact ints; po/pe/kappa are the same double
    // expression tree in both engines, round 6 only on outputs.
    "q92_label_agreement" -> ((s, d) => {
      val conf = centroidConfusion(s, d)
        .ckptLazy // four consumers: total, diagonal, rows, cols
      val n = conf.agg(sum("n_vectors").as("n_total"))
      val diag = conf.where(col("true_label") === col("pred_label"))
        .agg(coalesce(sum("n_vectors"), lit(0L)).as("n_agree"))
      val rw = conf.groupBy(col("true_label").as("l")).agg(sum("n_vectors").as("r"))
      val cl = conf.groupBy(col("pred_label").as("l")).agg(sum("n_vectors").as("c"))
      // label-count relations (≤ |labels| rows) — broadcast (r14 SMJ sweep)
      val pn = rw.join(broadcast(cl), "l")
        .agg(coalesce(sum(col("r") * col("c")), lit(0L)).as("s"))
      val po = col("n_agree").cast("double") / col("n_total").cast("double")
      val pe = col("s").cast("double") /
        (col("n_total").cast("double") * col("n_total").cast("double"))
      n.crossJoin(broadcast(diag)).crossJoin(broadcast(pn))
        .select(col("n_total"),
          round(po, 6).as("accuracy"),
          round(pe, 6).as("expected_agreement"),
          round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
        .orderBy("n_total")
    }),

    // sliding event-time windows in batch — Spark's window() generator
    // with length 15 min, slide 5 min: every event lands in exactly three
    // overlapping buckets (the shape streaming rollups use, replayed over
    // recorded data). The generate is narrow; one (window, type) shuffle.
    // Window starts go out as exact epoch microseconds; the oracle
    // reproduces membership by integer floor-division arithmetic.
    "q66_sliding_window" -> ((s, d) =>
      t(s, d, "events")
        .select(timestamp_micros(tsMicros).as("tts"), col("event_type"), col("value"))
        .groupBy(window(col("tts"), "15 minutes", "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
        .select(unix_micros(col("w.start")).as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("w_start", "event_type")),

    "q27_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", "lang",
        n = 3, threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("doc_a", "doc_b")),

    "q28_simhash" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 3,
        hotBucketCap = Int.MaxValue /* oracle: exact all-pairs chunks */)
        .orderBy("doc_a", "doc_b")),

    // ---- similarity search over embeddings ----
    "q29_knn_bruteforce" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      val q = embs.where(col("vec_id") < 8)
      Similarity.bruteForceKnn(embs, q, "vec_id", "embedding", k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    // IVF: 16 md5-deterministic centroid cells, 4 probed per query — the
    // sub-linear ANN scale path (only probed cells are verified); exact
    // within-cell cosine, so the oracle reproduces it bit for bit
    "q39_ann_ivf" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      Similarity.ivfKnn(embs, embs.where(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    // 24 tables x 4 bits: measured recall 1.0 vs q31's exact pairs at this
    // fixture's (near-orthogonal) cos>=0.4 threshold; see LSH tuning note
    // on Similarity.lshNearDupPairs
    "q30_ann_lsh" -> ((s, d) =>
      Similarity.lshNearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, nBits = 4, tables = 24, minCosine = 0.4)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("id_a", "id_b")),

    "q31_neardup_exact" -> ((s, d) =>
      Similarity.exactNearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
        minCosine = 0.4)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("id_a", "id_b")),

    // Bloom-pruned decontamination — q45's semantics at the scale where
    // the held-out shingle SET outgrows a broadcast hash set: a Bloom
    // filter over the held-out shingles (one distributed aggregation,
    // ~1.2 MB per million keys at 1% fpp vs tens of bytes per key for
    // the exact set) prunes the corpus shingle stream MAP-SIDE; only
    // true hits plus the ~1% false positives reach the exact semi-join,
    // so the answer is EXACTLY q45's (Bloom filters have no false
    // negatives — BloomPruneSpec asserts both the equality and that the
    // pre-filter actually discards the overwhelming share of shingles).
    "q67_bloom_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (heldout, corpusShingles) = contaminationSides(docs)
      val heldoutCached = heldout.ckptLazy
      val bf = heldoutCached.stat.bloomFilter("shingle",
        math.max(1000L, heldoutCached.count()), 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      val mightContain = udf((x: String) => bfB.value.mightContain(x))
      val hits = corpusShingles
        .where(mightContain(col("shingle"))) // map-side Bloom prune
        .join(broadcast(heldoutCached), Seq("shingle"), "left_semi") // exact
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      docs.where(col("doc_id") % 97 =!= 0).select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_contaminated_shingles"),
          (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
        .orderBy("doc_id")
    }),

    // stratified mixture rebalancing: downsample every language to the
    // SMALLEST language's document count, deterministically (md5 order —
    // any engine reproduces the exact kept set from ids alone). The
    // per-language head rides the same two-level sharded prefix as
    // q59/q61 (CorpusSharding), so no language serializes through one
    // task; the min count is one aggregate-sized scalar.
    "q68_stratified_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val nMin = docs.groupBy("lang").count().agg(min("count")).first().getLong(0)
      CorpusSharding.stratumHead(docs, prefixHexChars = 1, nPerStratum = nMin)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // interval-overlap join via bucketized equi-join — "which of the
    // user's sessions overlap each of the user's incident windows"
    // without a range cross product: both interval sets explode to the
    // fixed-width time buckets they cover, candidates pair on (user,
    // bucket) — an equi-join that shuffles on a bounded key — the exact
    // overlap predicate verifies, distinct collapses multi-bucket pairs.
    // Keyed per user the pair volume is LINEAR in the corpus (each
    // user's incidents only meet that user's sessions). The unkeyed
    // "how many sessions, of anyone, were active during the incident"
    // question is a different beast — its pair count grows with
    // incidents x concurrent sessions (quadratic in scale factor), so
    // the scale-safe form is not a join at all but a sweep count
    // (#starts <= t minus #ends < t, two running sums) — documented
    // here so nobody reintroduces the cross join. Sessions are q50's;
    // incidents are 30-minute windows after each error event; all
    // arithmetic integer microseconds.
    "q69_interval_overlap" -> ((s, d) => {
      val bucketUs = 86400L * 1000000L // 1-day candidate buckets
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_id"), tsMicros.as("us"), col("event_type"))
      val sessions = sessionSpans(e)
      val incidents = e.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("inc_id"), col("us").as("i_start"),
          (col("us") + 1800L * 1000000L).as("i_end"))
      val sb = sessions.withColumn("bkt",
        explode(expr(s"sequence(s_start div $bucketUs, s_end div $bucketUs)")))
      val ib = incidents.withColumn("bkt",
        explode(expr(s"sequence(i_start div $bucketUs, i_end div $bucketUs)")))
      sb.join(ib, Seq("user_id", "bkt"))
        .where(col("s_start") <= col("i_end") && col("i_start") <= col("s_end"))
        .select("inc_id", "user_id", "session_id").distinct()
        .groupBy("inc_id").agg(count(lit(1)).as("n_overlapping_sessions"))
        .orderBy("inc_id")
    }),

    // the cross-entity concurrency question q69 refuses to answer with a
    // join: "how many sessions, of ANYONE, were active at each error" —
    // answered by a SWEEP, active(t) = #(s_start <= t) - #(s_end < t),
    // two global time-ordered ranks with ZERO pairs materialized. Each
    // rank is a two-level prefix (SweepCount.markerRank): per-time-shard
    // marker counts give aggregate-sized offsets, a per-shard running
    // sum finishes — the shard is the leading bits of the time, so the
    // shard-major order IS the global order for every shard width
    // (SweepCountSpec). A join here would materialize incidents x
    // concurrent-sessions pairs: quadratic in scale factor.
    "q71_session_concurrency" -> ((s, d) => {
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_id"), tsMicros.as("us"), col("event_type"))
      val sessions = sessionSpans(e)
        .select(col("s_start").as("start"), col("s_end").as("end"))
      val incidents = e.where(col("event_type") === "error")
        .select(col("event_id").as("probe_id"), col("us").as("t"))
      SweepCount.activeIntervals(sessions, incidents, shardUs = 86400L * 1000000L)
        .select(col("probe_id").as("inc_id"), col("n_active").as("n_active_sessions"))
        .orderBy("inc_id")
    }),

    // conversion funnel via CHAINED as-of joins: each purchase picks up
    // the latest click at or before it, and that click picks up the
    // latest view at or before IT — ordered-sequence analytics with two
    // co-partitioned as-of passes (AsofJoin's union + running-last), no
    // row-exploding range join, no per-user event buffering. Refs dedup
    // to max event_id per (user, us) per the as-of input contract.
    "q70_funnel" -> ((s, d) => {
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_id"), tsMicros.as("us"), col("event_type"))
      val clicks = e.where(col("event_type") === "click")
        .groupBy("user_id", "us").agg(max("event_id").as("click_id"))
      val views = e.where(col("event_type") === "view")
        .groupBy("user_id", "us").agg(max("event_id").as("view_id"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("us"))
      val withClick = AsofJoin.asofJoin(purchases, clicks, "user_id", "us", Seq("click_id"))
        .where(col("ref_click_id").isNotNull) // funnel needs the click
        .select(col("user_id"), col("purchase_id"), col("us").as("purchase_us"),
          col("ref_us").as("us"), col("ref_click_id").as("click_id"))
      AsofJoin.asofJoin(withClick, views, "user_id", "us", Seq("view_id"), refPrefix = "v_")
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          col("v_view_id").as("view_id"),
          col("v_view_id").isNotNull.as("full_funnel"))
        .orderBy("purchase_id")
    }),

    // ---- multimodal plumbing ----
    "q32_multimodal_meta" -> ((s, d) => {
      val packed = Multimodal.packBinary(t(s, d, "documents"), "doc_id", "text")
      Multimodal.extractFrameFeatures(packed, "doc_id", frameBytes = 64)
        .select("doc_id", "n_bytes", "content_md5", "n_frames")
        .orderBy("doc_id")
    }),

    // the numeric decode path end to end: bytes -> per-frame features ->
    // nearest-neighbor resize to a fixed 8-dim embedding, one row per
    // (doc, dim) so every column stays scalar. The documents fixture is
    // pure ASCII, so DuckDB reproduces the byte-level "decode" exactly
    // (ord(char) == byte) — the oracle checks the full numeric chain,
    // not just the metadata
    "q42_multimodal_resize" -> ((s, d) => {
      // empty payloads are dropped EXPLICITLY on both sides: posexplode
      // of the empty feature array would silently drop them here while a
      // SQL mirror emits null-feature rows — align by construction
      val packed = Multimodal.packBinary(
        t(s, d, "documents").where(length(col("text")) > 0), "doc_id", "text")
      val feats = Multimodal.extractFrameFeatures(packed, "doc_id", frameBytes = 64)
      val resizeUdf = udf((fs: Array[Double]) =>
        Multimodal.resizeNearest(fs, 8).toSeq)
      feats.select(col("doc_id"), col("n_frames"),
        posexplode(resizeUdf(col("frame_features"))).as(Seq("k", "v")))
        .withColumn("v", round(col("v"), 6))
        .orderBy("doc_id", "k")
    }),

    // ---- scalar/json/time functions ----
    "q33_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
        .orderBy("event_type")),

    "q34_time_bucket" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_format(timestamp_micros(tsMicros), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("day")),

    // ---- the flagship pipeline, oracle-checked end to end: per-feature
    // entropy rewards -> ranking -> leap cutoff -> explanation arrays.
    // Jittered values keep the rewrite quiescent so the whole flow is
    // SQL-expressible (q36 oracle-checks the rewrite itself) ----
    "q37_exstream_oracle" -> ((s, d) => exstreamExplain(s, d)),

    // ---- the instability path (A10 + M1), oracle-checked end to end:
    // the pipeline re-run on five deterministic 80% resamples plus the
    // full data, all through ONE shuffle (resample id folded into the
    // window key), then the multiset instability entropy over the five
    // explanations. The md5 wide-row sample replaces the reference's
    // RNG-seeded `df.sample` (script_1.py:227-241) so both engines draw
    // the identical subset ----
    "q38_exstream_instability" -> ((s, d) => exstreamInstability(s, d)),

    // ---- the pooled (type-level) grouping variant (SURVEY §3.3): the
    // notebook computes one explanation per anomaly TYPE, all windows of
    // the type pooled. Re-keying the observation table IS the mechanism
    // (window_key := the group column) — here pooled into 8 user cohorts ----
    "q41_exstream_by_group" -> ((s, d) => exstreamExplainByGroup(s, d)),

    // ---- worst-case shuffle (T2): quantized values force cross-class
    // duplicate runs, so the pessimistic label rewrite dominates the
    // segmentation entropy; the oracle reproduces the rewrite analytically
    // (it is a row-wise function of position-in-run and the run's counts) ----
    "q36_worstcase_shuffle" -> ((s, d) => {
      val obs = t(s, d, "events").select(
        col("user_id").cast("string").as("window_key"),
        lit("value").as("feature"),
        floor(col("value") / 100.0).cast("double").as("value"),
        clsCol.as("type_data"))
      EntropyReward.rewards(obs, applyWorstCase = true)
        .where(col("n_ano") > 0 && col("n_ref") > 0)
        .select(
          col("window_key").cast("long").as("user_id"),
          col("n_ano"), col("n_ref"),
          round(col("segmentation_entropy"), 6).as("segmentation_entropy"),
          round(col("reward"), 6).as("reward"))
        .orderBy("user_id")
    }),

    // ---- subsequence matching (T1) ----
    "q35_distance_profile" -> ((s, d) => {
      val profileCount = udf { (vals: Seq[Double]) =>
        val arr = vals.toArray
        val q = arr.take(8)
        MatchKernel.subThresholdCount(q, arr, 3.0)
      }
      t(s, d, "events")
        .select(col("user_id"),
          tsMicros.as("us"), col("event_id"), jitterVal.as("v"))
        .groupBy("user_id")
        .agg(transform(
          array_sort(collect_list(struct(col("us"), col("event_id"), col("v")))),
          x => x.getField("v")).as("series"))
        .where(size(col("series")) >= 8)
        .select(col("user_id"), size(col("series")).as("n"),
          profileCount(col("series")).as("n_matches"))
        .orderBy("user_id")
    }))

  /**
   * Flagship: explain "what changed in the second half of each user's
   * event stream" — the EXstream query applied to a generic event table.
   * Windows: per user, reference = first half by time, anomaly = second
   * half; features = event types carrying their `value`.
   */
  // Feature order of the events table (ranking tie-break) — mirrored by
  // the oracle chain's CASE expression.
  private val eventFeatIdx: Map[String, Int] =
    Map("click" -> 0, "view" -> 1, "purchase" -> 2, "signup" -> 3, "error" -> 4)

  /** Labeled observations of the events table — the shared front end of
    * every EXstream-over-events query (q20/q37/q38/q41): per-user halves
    * as classes, event_id-jittered values (unique, so the worst-case
    * rewrite is quiescent and the flow is SQL-expressible), microsecond
    * `us` kept for callers that sample or re-key. */
  private def eventsObs(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), tsMicros.as("us"))
    val spans = e.groupBy("user_id").agg(((min("us") + max("us")) / 2).as("mid"))
    e.join(broadcast(spans), "user_id")
      .select(col("user_id"), col("us"),
        col("event_type").as("feature"),
        (col("value") + col("event_id") * lit(1e-6)).as("value"),
        when(col("us") >= col("mid"), 1).otherwise(0).as("type_data"))
  }

  /** Rewards + both-classes filter + ranking tie-break index — the shared
    * back end (expects `window_key, feature, value, type_data`).
    *
    * The reward is rounded to 6 decimals HERE, at the query layer (the
    * oracle chain rounds identically): the segmentation-entropy sum is a
    * float reduction whose association order is engine- and run-dependent
    * (DuckDB's parallel aggregation order varies run to run), and a
    * last-ulp reward difference flips ranking ties and exact-equality
    * leap comparisons. Rounding snaps both engines to the same double
    * before any ordering decision. The operators keep the reference's
    * exact-float semantics — this is purely the cross-engine
    * determinism boundary. */
  private def eventRewards(obs: DataFrame): DataFrame = {
    EntropyReward.rewards(obs, applyWorstCase = true)
      .where(col("n_ano") > 0 && col("n_ref") > 0) // feature must observe both halves
      .withColumn("reward", round(col("reward"), 6))
      .withColumn("feat_idx", EntropyReward.featIdxCol(eventFeatIdx, col("feature")))
  }

  def exstreamExplain(s: SparkSession, d: String): DataFrame = {
    val obs = eventsObs(s, d).select(
      col("user_id").cast("string").as("window_key"),
      col("feature"), col("value"), col("type_data"))
    LeapFilter.explanations(eventRewards(obs))
      .select(col("window_key").cast("long").as("user_id"),
        // scalar (not array<string>) so downstream harnesses can sort/hash
        // the column; ranking order is preserved inside the joined string
        array_join(col("features"), " ").as("features"),
        size(col("features")).as("n_features"))
      .orderBy("user_id")
  }

  /**
   * The pooled grouping variant (SURVEY §3.3, `testing.ipynb` cells
   * 21-26): the reward/leap pipeline keyed on a GROUP of windows (the
   * notebook pools all windows of an anomaly type). The operators only
   * see `window_key`, so re-keying the observation table is the whole
   * mechanism — here user cohorts (user_id % 8) stand in for anomaly
   * types over the generic events table.
   */
  def exstreamExplainByGroup(s: SparkSession, d: String): DataFrame = {
    val obs = eventsObs(s, d).select(
      (col("user_id") % 8).cast("string").as("window_key"),
      col("feature"), col("value"), col("type_data"))
    LeapFilter.explanations(eventRewards(obs))
      .select(col("window_key").cast("long").as("group_id"),
        array_join(col("features"), " ").as("features"),
        size(col("features")).as("n_features"))
      .orderBy("group_id")
  }

  /**
   * The instability metric end to end (`script_1.py:187-241`): the
   * explanation query re-run on five 80% resamples, then the multiset
   * entropy of the five feature lists per window.
   *
   * Distribution shape: the resample id `rs` (-1 = full data, 0..4 =
   * samples) is folded into the window key, so ALL six pipeline instances
   * ride one groupBy shuffle — at 100 TB this costs ~5x the single-pass
   * bytes (the honest price of five resamples) but adds zero extra
   * stages, vs the reference's six serial pipeline runs. Sampling is a
   * deterministic md5 hash of the wide-row key (user, timestamp, rs) —
   * the reference samples whole wide rows, i.e. every feature of a
   * timestamp together (`script_1.py:230`) — with cutoff 0xcc/0x100 =
   * 79.7%, reproducible bit-for-bit in any engine with md5.
   */
  def exstreamInstability(s: SparkSession, d: String): DataFrame = {
    val obs = eventsObs(s, d)
      .withColumn("rs", explode(array((-1 to 4).map(i => lit(i)): _*)))
      .where(col("rs") === -1 ||
        md5(concat_ws("_", col("user_id"), col("us"), col("rs")).cast("binary")) < "cc")
      .select(
        ExstreamPipeline.rsKey(col("user_id")).as("window_key"),
        col("feature"), col("value"), col("type_data"))
    val kept = ExstreamPipeline.unfoldRs(LeapFilter.keptFeatures(eventRewards(obs)))
      .withColumn("user_id", col("window_key").cast("long"))

    val main = kept.where(col("rs") === -1)
      .groupBy("user_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("rank"), col("feature")))),
            x => x.getField("feature")),
          " ").as("features"),
        count(lit(1)).cast("int").as("exp_size"))

    // instability = -sum p*log2(p) over the multiset of features across
    // the five resample explanations (EntropyCore.instabilityEntropy as a
    // relational aggregation — q16's proven form)
    val c = kept.where(col("rs") >= 0)
      .groupBy("user_id", "feature").agg(count(lit(1)).as("k"))
    val tot = c.groupBy("user_id").agg(sum("k").as("n"))
    val inst = c.join(tot, "user_id")
      .withColumn("p", col("k").cast("double") / col("n"))
      .groupBy("user_id")
      .agg(round(sum(-col("p") * log2(col("p"))), 6).as("exp_instability"))

    main.join(inst, Seq("user_id"), "left")
      .na.fill(0.0, Seq("exp_instability"))
      .select("user_id", "features", "exp_size", "exp_instability")
      .orderBy("user_id")
  }
}

/**
 * DuckDB oracle SQL for [[Queries.queries]] — same tables, same column
 * names, same ORDER BY, and the same floating-point operation structure
 * (see the parity notes on Queries). Queries with engine-specific hashing
 * (xxhash64 minhash/simhash/LSH) or seeded sampling have no SQL oracle and
 * get the driver's rows-only check.
 */
object Oracles {

  // shared SQL fragments, kept textually identical across queries
  private val dot = (a: String, b: String) =>
    s"list_sum(list_transform(list_zip($a,$b), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
  private val clsSql = "CASE WHEN event_type IN ('purchase','error') THEN 1 ELSE 0 END"
  private val ceSql = // class entropy from n_ano/n_ref, mirroring classEntropyCol
    "(n_ano*1.0/(n_ano+n_ref))*log2(1.0/(n_ano*1.0/(n_ano+n_ref))) + " +
    "(n_ref*1.0/(n_ano+n_ref))*log2(1.0/(n_ref*1.0/(n_ano+n_ref)))"
  /** q126/q128's shared Neyman-allocation CTE chain ending in
    * `alloc(source, n_docs, weight, n_alloc)` — the SQL twin of
    * [[Queries.neymanAlloc]] (HUGEINT = the engine's DECIMAL(38,0)). */
  private lazy val neymanCtes: String =
    s"""y AS (SELECT source,
                            CAST(len(regexp_extract_all(text, '${graft.functions.TextFunctions.bpeTokenPattern.replace("'", "''")}')) AS BIGINT) AS n
                     FROM documents),
              st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                            sum(CAST(n AS HUGEINT)) AS sy,
                            sum(CAST(n AS HUGEINT) * n) AS sy2
                     FROM y GROUP BY source),
              wv AS (SELECT source, n_docs,
                            CAST(floor(sqrt(CAST(CAST(n_docs AS HUGEINT) * sy2 - sy * sy
                                                 AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
                     FROM st),
              tw AS (SELECT sum(w) AS tw FROM wv),
              q0 AS (SELECT source, n_docs, w,
                            (1000 * w) // tw AS base, (1000 * w) % tw AS rem
                     FROM wv CROSS JOIN tw),
              ex AS (SELECT 1000 - sum(base) AS extra FROM q0),
              rk AS (SELECT q0.*, extra,
                            row_number() OVER (ORDER BY rem DESC, source) AS rk
                     FROM q0 CROSS JOIN ex),
              alloc AS (SELECT source, n_docs, CAST(w AS DOUBLE) / 1000000.0 AS weight,
                               CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
                        FROM rk)"""

  /** q167: one integer Haar-packet band energy as DuckDB SQL — the sum
    * over the frame's 4-byte groups j of the squared Hadamard
    * combination with signs (+1, s1, s2, s3) on bytes (x0..x3). Exact
    * BIGINT arithmetic end to end (mirrors
    * Multimodal.byteBandEnergies). Expects columns `text`, `lo` (frame
    * byte offset, 0-based) and `q` (group count) in scope. */
  private def bandEnergySql(s1: Int, s2: Int, s3: Int): String = {
    def term(k: Int, s: Int) =
      (if (s > 0) " + " else " - ") +
        s"ord(substr(text, CAST(lo + 4*j + ${k + 1} AS INT), 1))"
    val e = "0" + term(0, 1) + term(1, s1) + term(2, s2) + term(3, s3)
    s"CAST(COALESCE(list_sum(list_transform(range(0, q), " +
      s"j -> CAST(($e) * ($e) AS BIGINT))), 0) AS BIGINT)"
  }

  /** q171/q172: NswGraph.nswBuild's fixed rounds UNROLLED (the
    * q78/q87/q153 chained-MATERIALIZED-CTE discipline applied to a
    * graph algorithm). `u` is the quantized position table, `c0` the
    * md5-offset init draws (q158's recipe), each `g_r` the per-node
    * (d2, neighbor)-ordered top-K after scoring that round's candidate
    * set (undirected 2-hop closure + the current edges). All integer. */
  private def nswCtes(k: Int, rounds: Int, seeds: Int): String = {
    val draw = graft.functions.PortableHash.duckdbMd5Long("e.vec_id || '_' || j", 15)
    def scoredTopK(candCte: String, gName: String): String =
      s"""$gName AS MATERIALIZED (
                    SELECT a, b, d2, rk FROM (
                      SELECT d.a, d.b, d.d2,
                             row_number() OVER (PARTITION BY d.a ORDER BY d.d2, d.b) AS rk
                      FROM (SELECT c.a, c.b,
                                   CAST(sum((ua.vq - ub.vq) * (ua.vq - ub.vq)) AS BIGINT) AS d2
                            FROM $candCte c JOIN u ua ON ua.vec_id = c.a
                            JOIN u ub ON ub.vec_id = c.b AND ub.pos = ua.pos
                            GROUP BY c.a, c.b) d) t
                    WHERE rk <= $k)"""
    def round(r: Int): String = {
      val prev = s"g${r - 1}"
      s"""und$r AS (SELECT a, b FROM $prev UNION SELECT b, a FROM $prev),
              c$r AS (SELECT DISTINCT a, b FROM (
                        SELECT x.a, y.b FROM und$r x JOIN und$r y ON x.b = y.a
                        UNION ALL SELECT a, b FROM und$r) t
                      WHERE b != a),
              ${scoredTopK(s"c$r", s"g$r")}"""
    }
    s"""u AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                     CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024.0) AS BIGINT) AS vq
              FROM embeddings),
              nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
              c0 AS (SELECT DISTINCT e.vec_id AS a,
                            (e.vec_id + 1 + ($draw % (n - 1))) % n AS b
                     FROM embeddings e CROSS JOIN nn
                     CROSS JOIN (SELECT unnest(range(1, ${seeds + 1})) AS j)),
              ${scoredTopK("c0", "g0")},
              ${(1 to rounds).map(round).mkString(",\n              ")}"""
  }

  /** One functional-dependency scalar block (q129). */
  private def fdSql(tname: String, det: String, dep: String): String =
    s"""SELECT '$tname' AS tbl, '$det' AS det, '$dep' AS dep,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
               CAST(max(nv) AS BIGINT) AS max_variants,
               CAST(CASE WHEN sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0
                         THEN 1 ELSE 0 END AS INT) AS fd_holds
        FROM (SELECT k, CAST(count(*) AS BIGINT) AS nv FROM (
                SELECT DISTINCT CAST($det AS VARCHAR) AS k, CAST($dep AS VARCHAR) AS v
                FROM $tname)
              GROUP BY k)"""

  /** One per-column profile scalar block (q130). */
  private def colProfileSql(cn: String): String =
    s"""SELECT '$cn' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
               CAST(min(len(v)) AS BIGINT) AS min_len,
               CAST(max(len(v)) AS BIGINT) AS max_len
        FROM (SELECT CAST($cn AS VARCHAR) AS v FROM documents)"""

  private val shSql = // distinct 3-gram shingles of whitespace tokens
    """list_distinct(list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2]))"""

  /** [[graft.functions.TextFunctions.bpeTokenPattern]] with the apostrophe
    * SQL-escaped; the pattern itself stays in the Java-regex/RE2 shared
    * subset so both engines match identically. */
  private[graft] val bpePatternSql: String =
    graft.functions.TextFunctions.bpeTokenPattern.replace("'", "''")

  // q26's shingle -> minhash -> band -> verify chain through `v`
  // (verified candidate pairs with exact jaccard) — shared by q26 and
  // q43's connected-components closure.
  /** q65/q92's shared centroid-confusion pipeline as a DuckDB CTE chain
    * ending in `conf(true_label, pred_label, n_vectors)` — the SQL twin
    * of [[centroidConfusion]]. */
  private lazy val centroidConfusionCte: String =
    """u AS (SELECT vec_id, label AS true_label,
                           generate_subscripts(embedding, 1) - 1 AS pos,
                           unnest(embedding) AS v
                    FROM embeddings),
              ev AS (SELECT vec_id, true_label, pos,
                            CAST(floor(CAST(v AS DOUBLE) * 1024.0) AS BIGINT) AS vq
                     FROM u),
              cs AS (SELECT true_label AS c_label, pos, sum(vq) AS sq, count(*) AS n_c
                     FROM ev GROUP BY true_label, pos),
              dots AS (SELECT e.vec_id, e.true_label, c.c_label, c.n_c,
                              sum(e.vq * c.sq) AS dot
                       FROM ev e JOIN cs c USING (pos)
                       GROUP BY e.vec_id, e.true_label, c.c_label, c.n_c),
              ranked AS (SELECT *,
                                row_number() OVER (PARTITION BY vec_id
                                  ORDER BY CAST(dot AS DOUBLE)/n_c DESC, c_label) AS rnk
                         FROM dots),
              conf AS (SELECT true_label, c_label AS pred_label, count(*) AS n_vectors
                       FROM ranked WHERE rnk = 1
                       GROUP BY true_label, c_label)"""

  /** BpeTrainer's fixed-round training UNROLLED as chained MATERIALIZED
    * CTEs (the q78 pattern; inlined CTEs would expand exponentially):
    * per round k, `p_k` pair-explodes the previous vocabulary, `win_k`
    * picks the (n DESC, pair) winner, `v_k` applies the greedy sentinel
    * replace — DuckDB's replace resumes after the matched region,
    * matching Spark's UTF8String.replace (BpeTrainerSpec's run-of-4 case
    * pins the shared semantics). The `word` column rides along so the
    * final `v<rounds>` doubles as the trained word->encoding table for
    * the APPLY oracle (q93); q87 reads only the `win_k`s. */
  private def bpeTrainCtes(rounds: Int): String =
    bpeChainCtes(rounds,
      wSql = """SELECT unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS word
                     FROM documents""",
      symSql = "substr(word,i,1)")

  /** [[bpeTrainCtes]] over GPT-2's BYTE alphabet (q168/q169, r13): the
    * pre-tokenizer is q40's GPT-2-style regex instead of whitespace,
    * and v0's symbols are 2-hex-digit lowercase byte codes
    * (`BpeTrainer.encodeByteHex` — char == byte under the fixture's
    * ASCII contract). The merge rounds are byte-identical to the
    * word-level chain: the loop never looks inside a symbol. */
  private def byteBpeTrainCtes(rounds: Int): String =
    bpeChainCtes(rounds,
      wSql = s"""SELECT unnest(regexp_extract_all(text, '$bpePatternSql')) AS word
                     FROM documents""",
      symSql = "lpad(lower(to_hex(ord(substr(word,i,1)))), 2, '0')")

  /** Shared BPE chain generator behind both alphabets: `wSql` produces
    * the pre-token stream (column `word`), `symSql` maps character i of
    * `word` to its initial symbol. */
  private def bpeChainCtes(rounds: Int, wSql: String, symSql: String): String = {
    def round(k: Int): String = {
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""p$k AS (SELECT unnest(list_transform(range(1, len(l)),
                            i -> l[i] || ' ' || l[i+1])) AS pair, freq
                    FROM (SELECT string_split(substr(enc, 2, len(enc)-2),
                                              chr(2)||chr(1)) AS l, freq
                          FROM $prev)),
              win$k AS MATERIALIZED (
                    SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p$k
                    GROUP BY pair ORDER BY n DESC, pair LIMIT 1),
              v$k AS MATERIALIZED (
                    SELECT word, replace(enc,
                             chr(1)||split_part(pair,' ',1)||chr(2)||
                               chr(1)||split_part(pair,' ',2)||chr(2),
                             chr(1)||replace(pair,' ','')||chr(2)) AS enc,
                           freq
                    FROM $prev CROSS JOIN win$k)"""
    }
    s"""w AS ($wSql),
              v AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w
                    WHERE len(word) >= 2
                      AND word NOT LIKE '%'||chr(1)||'%'
                      AND word NOT LIKE '%'||chr(2)||'%'
                    GROUP BY word),
              v0 AS MATERIALIZED (
                    SELECT word, array_to_string(list_transform(range(1, len(word)+1),
                             i -> chr(1)||$symSql||chr(2)), '') AS enc,
                           freq
                    FROM v),
              ${(1 to rounds).map(round).mkString(",\n              ")}"""
  }

  /** WordPieceTrainer's fixed-round loop UNROLLED (the q87 shape with
    * the score selection): per round, `pc_k` pair counts, `sc_k` symbol
    * counts, `win_k` the (scaled-score DESC, pair) argmax — the score is
    * the exact integer (n * 10^12) // (cx * cy), DuckDB's `//` matching
    * Spark's `div` on positives — and `wv_k` the sentinel replace whose
    * merged symbol strips the right part's `##` marker. `v0` encodes
    * first chars bare and continuations `##`-prefixed. */
  private def wordpieceTrainCtes(rounds: Int, maxWordLen: Int = 0): String = {
    val lenCap = if (maxWordLen > 0) s"AND len(word) <= $maxWordLen" else ""
    def round(k: Int): String = {
      val prev = if (k == 1) "wv0" else s"wv${k - 1}"
      s"""wl$k AS (SELECT string_split(substr(enc, 2, len(enc)-2),
                                      chr(2)||chr(1)) AS l, freq
                  FROM $prev),
              pc$k AS MATERIALIZED (
                    SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM
                      (SELECT unnest(list_transform(range(1, len(l)),
                                i -> l[i] || ' ' || l[i+1])) AS pair, freq
                       FROM wl$k) t
                    GROUP BY pair),
              sc$k AS MATERIALIZED (
                    SELECT sym, CAST(sum(freq) AS BIGINT) AS c FROM
                      (SELECT unnest(l) AS sym, freq FROM wl$k) t
                    GROUP BY sym),
              win$k AS MATERIALIZED (
                    SELECT pair, n,
                           CAST((n * 1000000000000) // (cx.c * cy.c) AS BIGINT) AS score
                    FROM pc$k
                    JOIN sc$k cx ON cx.sym = split_part(pc$k.pair, ' ', 1)
                    JOIN sc$k cy ON cy.sym = split_part(pc$k.pair, ' ', 2)
                    ORDER BY score DESC, pair LIMIT 1),
              wv$k AS MATERIALIZED (
                    SELECT word, replace(enc,
                             chr(1)||split_part(pair,' ',1)||chr(2)||
                               chr(1)||split_part(pair,' ',2)||chr(2),
                             chr(1)||split_part(pair,' ',1)||
                               substr(split_part(pair,' ',2), 3)||chr(2)) AS enc,
                           freq
                    FROM $prev CROSS JOIN win$k)"""
    }
    s"""ww AS (SELECT unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS word
                     FROM documents),
              wvv AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM ww
                    WHERE len(word) >= 2
                      AND word NOT LIKE '%'||chr(1)||'%'
                      AND word NOT LIKE '%'||chr(2)||'%'
                      AND word NOT LIKE '%#%' $lenCap
                    GROUP BY word),
              wv0 AS MATERIALIZED (
                    SELECT word, array_to_string(list_transform(range(1, len(word)+1),
                             i -> chr(1)||(CASE WHEN i = 1 THEN '' ELSE '##' END)||
                                  substr(word,i,1)||chr(2)), '') AS enc,
                           freq
                    FROM wvv),
              ${(1 to rounds).map(round).mkString(",\n              ")}"""
  }

  private def wordpieceTrainSql: String =
    s"""WITH ${wordpieceTrainCtes(6)}
        SELECT merge_rank, pair, n, score FROM (
          ${(1 to 6).map(k =>
            s"SELECT $k AS merge_rank, pair, n, score FROM win$k")
            .mkString(" UNION ALL ")}) t
        ORDER BY merge_rank"""

  /** q161: the ≤16-char-capped training unroll, the final-inventory
    * distinct (alphabet + merged pieces), then GREEDY MAXIMAL MUNCH as
    * 16 chained steps — per live (word, pos) row, the longest inventory
    * piece matching at pos (word-initial bare, continuations ##-marked),
    * COALESCE'd to a 1-char advance when nothing matches (the
    * encodeGreedy OOV fallback). Every step advances ≥ 1 char, so 16
    * steps finish every word; finished rows carry their piece count
    * forward. Joined to per-doc tf exactly like q152's apply. */
  private def wordpieceApplySql: String = {
    def step(s: Int): String = {
      val prev = if (s == 1) "g0" else s"g${s - 1}"
      s"""g$s AS MATERIALIZED (
            SELECT word, pos, np FROM $prev WHERE pos >= len(word)
            UNION ALL
            SELECT g.word, g.pos + CAST(COALESCE(m.l, 1) AS INT) AS pos,
                   g.np + 1 AS np
            FROM $prev g LEFT JOIN (
              SELECT gg.word, gg.pos, CAST(max(r.l) AS BIGINT) AS l
              FROM $prev gg
              JOIN range(1, 17) r(l) ON CAST(r.l AS INT) <= len(gg.word) - gg.pos
              JOIN inv i ON i.piece =
                (CASE WHEN gg.pos = 0 THEN '' ELSE '##' END) ||
                substr(gg.word, gg.pos + 1, CAST(r.l AS INT))
              WHERE gg.pos < len(gg.word)
              GROUP BY gg.word, gg.pos) m
              ON m.word = g.word AND m.pos = g.pos
            WHERE g.pos < len(g.word))"""
    }
    s"""WITH ${wordpieceTrainCtes(6, 16)},
        inv AS MATERIALIZED (
          SELECT DISTINCT unnest(string_split(substr(enc, 2, len(enc)-2),
                                              chr(2)||chr(1))) AS piece
          FROM wv6),
        dtf AS MATERIALIZED (
          SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT doc_id, unnest(string_split_regex(text, $wsSql)) AS word
            FROM documents) t
          WHERE length(word) BETWEEN 1 AND 16
          GROUP BY doc_id, word),
        g0 AS MATERIALIZED (
          SELECT DISTINCT word, 0 AS pos, 0 AS np FROM dtf),
        ${(1 to 16).map(step).mkString(",\n        ")},
        wnp AS (SELECT word, CAST(np AS BIGINT) AS np FROM g16)
        SELECT dtf.doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
               CAST(sum(tf * np) AS BIGINT) AS n_pieces,
               CAST((CAST(sum(tf * np) AS BIGINT) * 1000000)
                 // CAST(sum(tf) AS BIGINT) AS DOUBLE) / 1000000.0 AS fertility
        FROM dtf JOIN wnp ON dtf.word = wnp.word
        GROUP BY dtf.doc_id ORDER BY dtf.doc_id"""
  }

  /** q162: farthest-point sampling unrolled — per round, dist-to-set is
    * a two-level min (per (vec, selected) integer L2, then min over the
    * selected members), the winner the (dist DESC, vec_id) argmax over
    * non-members, the set a growing UNION ALL chain. Seed = the
    * md5-order first vector (the q153 seed draw). */
  private def kcenterSql: String = {
    val K = 8
    def round(r: Int): String =
      s"""kd$r AS MATERIALIZED (
            SELECT xv, MIN(dd) AS dist FROM (
              SELECT x.vec_id AS xv, cu.vec_id AS cv,
                     CAST(sum((x.vq - cu.vq) * (x.vq - cu.vq)) AS BIGINT) AS dd
              FROM ku x JOIN ku cu ON cu.pos = x.pos
              JOIN ks${r - 1} c ON c.vec_id = cu.vec_id
              GROUP BY x.vec_id, cu.vec_id) t
            GROUP BY xv),
          kwin$r AS MATERIALIZED (
            SELECT xv AS vec_id, dist FROM kd$r
            WHERE xv NOT IN (SELECT vec_id FROM ks${r - 1})
            ORDER BY dist DESC, xv LIMIT 1),
          ks$r AS MATERIALIZED (
            SELECT vec_id, sel_rank, min_dist FROM ks${r - 1}
            UNION ALL
            SELECT vec_id, $r AS sel_rank, dist AS min_dist FROM kwin$r)"""
    s"""WITH ku AS MATERIALIZED (
          SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024.0) AS BIGINT) AS vq
          FROM embeddings),
        ks1 AS MATERIALIZED (
          SELECT vec_id, 1 AS sel_rank, CAST(0 AS BIGINT) AS min_dist FROM (
            SELECT vec_id, row_number() OVER (ORDER BY ${graft.functions
              .PortableHash.duckdbMd5Long("vec_id::VARCHAR", 15)}, vec_id) AS rn
            FROM embeddings) t WHERE rn = 1),
        ${(2 to K).map(round).mkString(",\n        ")}
        SELECT sel_rank, vec_id, min_dist FROM ks$K ORDER BY sel_rank"""
  }

  /** q164: q157's training CTEs (cells + codebooks), then all-anchors
    * hard-negative mining — same-cell different-label pairs scored by
    * summing the anchor's pqd4 rows at the member's codes (pqd4 IS the
    * per-anchor ADC lookup table), top-4 per anchor by (adc, neg_id). */
  private def hardNegativesSql: String =
    s"""WITH ${pqCtesP("kv_", 64)},
        ${pqCtesP("pq_", 16)},
        kvd4 AS MATERIALIZED (
          SELECT us.vec_id, c.cid,
                 CAST(sum((us.vq - c.cq) * (us.vq - c.cq)) AS BIGINT) AS dist
          FROM kv_us us JOIN kv_c3 c ON us.pos = c.pos
          GROUP BY us.vec_id, c.cid),
        kva4 AS MATERIALIZED (
          SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM kvd4) t WHERE rn = 1),
        pqd4 AS MATERIALIZED (
          SELECT us.vec_id, c.sub, c.cid,
                 CAST(sum((us.vq - c.cq) * (us.vq - c.cq)) AS BIGINT) AS dist
          FROM pq_us us JOIN pq_c3 c ON us.pos = c.pos
          GROUP BY us.vec_id, c.sub, c.cid),
        pqa4 AS MATERIALIZED (
          SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM pqd4) t WHERE rn = 1),
        hadc AS MATERIALIZED (
          SELECT d.vec_id AS anchor_id, b.vec_id AS neg_id,
                 CAST(sum(d.dist) AS BIGINT) AS adc
          FROM kva4 ac JOIN kva4 bc ON ac.cell = bc.cell AND ac.vec_id <> bc.vec_id
          JOIN embeddings ea ON ea.vec_id = ac.vec_id
          JOIN embeddings eb ON eb.vec_id = bc.vec_id AND ea.label <> eb.label
          JOIN pqa4 b ON b.vec_id = bc.vec_id
          JOIN pqd4 d ON d.vec_id = ac.vec_id AND d.sub = b.sub AND d.cid = b.cid
          GROUP BY d.vec_id, b.vec_id),
        hr AS (SELECT anchor_id, neg_id, adc,
                      row_number() OVER (PARTITION BY anchor_id
                                         ORDER BY adc, neg_id) AS rn
               FROM hadc)
        SELECT anchor_id, CAST(rn AS INT) AS neg_rank, neg_id, adc
        FROM hr WHERE rn <= 4 ORDER BY anchor_id, neg_rank"""

  /** q163: the 3 batch-perceptron rounds unrolled — margins as an
    * integer sum-product join against the previous round's weight table,
    * the misclassified filter y*m <= 0, the update a bucket aggregate,
    * the new weights a COALESCE'd left join over the full bucket range.
    * Features are q74's portable md5 buckets plus a bias feature. */
  private def perceptronSql: String = {
    val R = 3
    def round(r: Int): String =
      s"""pm$r AS MATERIALIZED (
            SELECT f.doc_id, y.y, CAST(sum(w.w * f.x) AS BIGINT) AS m
            FROM pf f JOIN py y ON y.doc_id = f.doc_id
            JOIN pw${r - 1} w ON w.bucket = f.bucket
            GROUP BY f.doc_id, y.y),
          pu$r AS MATERIALIZED (
            SELECT f.bucket, CAST(sum(mi.y * f.x) AS BIGINT) AS du
            FROM (SELECT doc_id, y FROM pm$r WHERE y * m <= 0) mi
            JOIN pf f ON f.doc_id = mi.doc_id
            GROUP BY f.bucket),
          pw$r AS MATERIALIZED (
            SELECT pb.bucket,
                   CAST(COALESCE(w.w, 0) + COALESCE(u.du, 0) AS BIGINT) AS w
            FROM pb LEFT JOIN pw${r - 1} w ON w.bucket = pb.bucket
            LEFT JOIN pu$r u ON u.bucket = pb.bucket)"""
    s"""WITH ptok AS (SELECT doc_id, unnest(string_split_regex(text, $wsSql)) AS token
                      FROM documents),
        pf AS MATERIALIZED (
          SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket,
                 CAST(count(*) AS BIGINT) AS x
          FROM ptok GROUP BY doc_id, bucket
          UNION ALL
          SELECT doc_id, CAST(64 AS BIGINT) AS bucket, CAST(1 AS BIGINT) AS x
          FROM documents),
        py AS (SELECT doc_id, CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
                                   ELSE CAST(-1 AS BIGINT) END AS y
               FROM documents),
        pb AS (SELECT CAST(unnest(range(0, 65)) AS BIGINT) AS bucket),
        pw0 AS (SELECT bucket, CAST(0 AS BIGINT) AS w FROM pb),
        ${(1 to R).map(round).mkString(",\n        ")}
        SELECT round_no, bucket, w FROM (
          ${(1 to R).map(r =>
            s"SELECT $r AS round_no, bucket, w FROM pw$r")
            .mkString(" UNION ALL ")}) t
        ORDER BY round_no, bucket"""
  }

  private lazy val minhashPairsCte: String =
    s"""tk AS (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
              sh AS (SELECT doc_id, $shSql AS sh FROM tk),
              hs AS (SELECT doc_id, list_sort(list_distinct(list_transform(sh,
                            s -> ${graft.functions.PortableHash.duckdbMd5Long("s", 8)}))) AS hset
                     FROM sh WHERE len(sh) > 0),
              sig AS (SELECT doc_id, hset, $minhashSigSql AS sg FROM hs),
              bnd AS (SELECT doc_id, b, array_to_string(sg[4*b+1:4*b+4], ',') AS bkey
                      FROM sig CROSS JOIN (SELECT unnest(range(16)) AS b)),
              cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
                       FROM bnd l JOIN bnd r ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
              v AS (SELECT doc_a, doc_b,
                           len(list_intersect(x.hset, y.hset)) * 1.0 /
                           (len(x.hset) + len(y.hset) - len(list_intersect(x.hset, y.hset)) * 1.0) AS jaccard
                    FROM cand JOIN hs x ON doc_a = x.doc_id JOIN hs y ON doc_b = y.doc_id)"""

  /** q44/q97's shared curation chain: the minhash pair graph, recursive
    * components with min-label representatives (`cl`), and the scored
    * corpus `sc(doc_id, lang, q, toks, content_hash)` — one source of
    * truth so the curation composite and its impact report can't apply
    * different dedup/quality semantics. Callers prepend `WITH RECURSIVE`. */
  private lazy val curationCtes: String =
    s"""$minhashPairsCte,
              p AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
              edges AS (SELECT doc_a AS a, doc_b AS b FROM p
                        UNION SELECT doc_b, doc_a FROM p),
              reach(src, dst) AS (
                SELECT a, a FROM edges
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
              cl AS (SELECT src AS doc_id, min(dst) AS cluster_id
                     FROM reach GROUP BY src),
              $scoredDocsCte,
              sc AS (SELECT doc_id, lang, q, toks, content_hash, gk FROM scored)"""

  // q107's Gopher rule bundle as SQL predicates over `text` — the exact
  // integer cross-multiplied comparisons of TextFunctions.gopherRules.
  // Regex fragments live in plain triple-quoted vals (escape-free) and
  // are interpolated as VALUES, so the s-string never re-processes the
  // backslashes.
  private val wsSql = """'[ \t\n\x0b\f\r]+'"""
  private val ellRx = """'\.\.\.'"""
  private val ellEndRx = """'\.\.\.$'"""
  private[graft] lazy val gopherRuleSqls: Seq[(String, String)] = {
    val nWords = s"CAST(len(string_split_regex(text, $wsSql)) AS BIGINT)"
    val nWChars = s"CAST(length(regexp_replace(text, $wsSql, '', 'g')) AS BIGINT)"
    val nLines = "CAST(len(string_split(text, chr(10))) AS BIGINT)"
    val nBullet = "CAST(len(list_filter(string_split(text, chr(10)), " +
      "l -> regexp_matches(l, '^ *[-*]'))) AS BIGINT)"
    val nEllLines = s"CAST(len(list_filter(string_split(text, chr(10)), " +
      s"l -> regexp_matches(l, $ellEndRx))) AS BIGINT)"
    val nHash = "CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)"
    val nEllipsis = s"CAST(len(regexp_extract_all(text, $ellRx)) AS BIGINT)"
    val nAlphaWords = s"CAST(len(list_filter(string_split_regex(text, $wsSql), " +
      "w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)"
    Seq(
      "r_word_count" -> s"($nWords >= 50 AND $nWords <= 100000)",
      "r_mean_word_len" -> s"($nWChars >= $nWords * 3 AND $nWChars <= $nWords * 10)",
      "r_symbol_ratio" -> s"(($nHash + $nEllipsis) * 10 <= $nWords)",
      "r_bullet" -> s"($nBullet * 10 <= $nLines * 9)",
      "r_ellipsis_lines" -> s"($nEllLines * 10 <= $nLines * 3)",
      "r_alpha_words" -> s"($nAlphaWords * 5 >= $nWords * 4)")
  }
  private lazy val gopherKeepSql: String =
    gopherRuleSqls.map(_._2).mkString(" AND ")

  /** The scored-corpus projection shared by the curation chain (q44/q97
    * via `sc`) and the dataset card (q100): q24's quality formula, the
    * BPE token count, the exact-dedup content hash, and (r9) the q107
    * Gopher composite gate `gk`, one pass over `documents`. */
  private lazy val scoredDocsCte: String =
    s"""scored AS (SELECT doc_id, lang, source, n_chars,
                            (least(1.0, n/64.0) + alpha +
                             least(1.0, (n_chars2/greatest(n, 1.0))/8.0)) / 3.0 AS q,
                            len(regexp_extract_all(text, '$bpePatternSql')) AS toks,
                            md5(text) AS content_hash,
                            CAST(CASE WHEN $gopherKeepSql THEN 1 ELSE 0 END AS INT) AS gk
                     FROM (SELECT doc_id, lang, source, n_chars, text,
                                  CAST(len(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS DOUBLE) AS n,
                                  CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE) /
                                    greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha,
                                  CAST(length(text) AS DOUBLE) AS n_chars2
                           FROM documents))"""

  // MinHash signature (k=64) over the 32-bit md5 shingle hashes, with the
  // exact affine-mod-P permutation constants of graft.plans.MinHashSignature
  // — a line-by-line SQL reconstruction of the codegen'd kernel.
  private val minhashSigSql: String = {
    import graft.plans.MinHashSignature.{coeffA, coeffB, P}
    (0 until 64)
      .map(i => s"list_min(list_transform(hset, h -> (${coeffA(i)}*h+${coeffB(i)})%$P))")
      .mkString("[", ",\n                ", "]")
  }

  // Per-table LSH bucket expressions over the quantized vector `q`, with
  // the exact +/-1 hyperplane signs of Similarity.hyperplaneSigns. Integer
  // arithmetic end to end — no float summation order to disagree on.
  private def annBucketsSql(tables: Int, nBits: Int, dim: Int): String =
    (0 until tables).map { t =>
      val signs = graft.operators.Similarity.hyperplaneSigns(t, nBits, dim)
      (0 until nBits).map { b =>
        val proj = s"list_sum(list_transform(list_zip(q, [${signs(b).mkString(",")}]), x -> x[1]*x[2]))"
        s"CASE WHEN $proj >= 0 THEN ${1L << b} ELSE 0 END"
      }.mkString("(", " + ", ")")
    }.mkString("[", ",\n              ", "]")

  // The EXstream CTE chain — rewards -> ranking -> leap cutoff — from a
  // labeled observation relation `obs(<k>, feature, v, cls)` through
  // `kept(<k>, feature, rank)`. Parameterized over the window key so
  // q20/q37 (k = user_id) and q38 (k = rs, user_id: six pipeline
  // instances in one pass) share the identical float operation structure.
  private def exstreamChainSql(k: String): String =
    s"""agg AS (SELECT $k, feature, CAST(sum(cls) AS BIGINT) AS n_ano,
                             CAST(sum(1-cls) AS BIGINT) AS n_ref, count(*) AS n
                      FROM obs GROUP BY $k, feature),
              ok AS (SELECT * FROM agg WHERE n_ano > 0 AND n_ref > 0),
              o AS (SELECT $k, feature, cls,
                           row_number() OVER (PARTITION BY $k, feature
                                              ORDER BY v, cls) AS rn
                    FROM obs JOIN ok USING ($k, feature)),
              chg AS (SELECT $k, feature, cls, rn,
                             CASE WHEN cls <> lag(cls) OVER (PARTITION BY $k, feature ORDER BY rn)
                                  THEN 1 ELSE 0 END AS is_new
                      FROM o),
              sg AS (SELECT $k, feature, rn,
                            sum(is_new) OVER (PARTITION BY $k, feature ORDER BY rn
                                              ROWS UNBOUNDED PRECEDING) AS seg_id
                     FROM chg),
              segs AS (SELECT $k, feature, seg_id, count(*) AS seg_len
                       FROM sg GROUP BY $k, feature, seg_id),
              segs2 AS (SELECT s.*, max(seg_id) OVER (PARTITION BY $k, feature) AS last_seg
                        FROM segs s),
              se AS (SELECT $k, feature,
                            coalesce(sum(CASE WHEN seg_id <> last_seg
                              THEN (seg_len*1.0/n) * ln(1.0/(seg_len*1.0/n)) END), 0.0) AS seg_ent
                     FROM segs2 JOIN ok USING ($k, feature)
                     GROUP BY $k, feature),
              rewards AS (SELECT $k, feature,
                            round(CASE WHEN seg_ent = 0.0 THEN 1.0/0.0 ELSE
                              ((n_ano*1.0/(n_ano+n_ref))*log2(1.0/(n_ano*1.0/(n_ano+n_ref))) +
                               (n_ref*1.0/(n_ano+n_ref))*log2(1.0/(n_ref*1.0/(n_ano+n_ref))))
                              / seg_ent END, 6) AS reward,
                            CASE feature WHEN 'click' THEN 0 WHEN 'view' THEN 1
                                 WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                                 WHEN 'error' THEN 4 ELSE 5 END AS fi
                          FROM ok JOIN se USING ($k, feature)),
              w AS (SELECT *, row_number() OVER (PARTITION BY $k ORDER BY reward DESC, fi) AS rank,
                           lag(reward) OVER (PARTITION BY $k ORDER BY reward DESC, fi) AS prev
                    FROM rewards),
              x AS (SELECT *, prev - reward AS leap FROM w),
              y AS (SELECT *, max(leap) OVER (PARTITION BY $k) AS max_leap,
                           count(*) OVER (PARTITION BY $k) AS nf FROM x),
              z AS (SELECT *, min(CASE WHEN prev IS NOT NULL AND prev <> 0 AND leap = max_leap
                                       THEN rank END) OVER (PARTITION BY $k) AS cut FROM y),
              kept AS (SELECT $k, feature, rank FROM z
                       WHERE nf <= 1 OR cut IS NULL OR rank < cut)"""

  // Shared by q20 (flagship) and q37 (oracle twin): the full EXstream
  // pipeline — rewards -> ranking -> leap cutoff -> explanation — as one
  // analytic SQL query. `features` is the rank-ordered list joined with
  // spaces (scalar, so result harnesses can sort/hash the column).
  private val exstreamExplainSql =
    s"""WITH e AS (SELECT user_id, event_id, event_type AS feature,
                value + event_id*1e-6 AS v, epoch_us(ts) AS us FROM events),
              spans AS (SELECT user_id, (min(us)+max(us))/2 AS mid FROM e GROUP BY user_id),
              obs AS (SELECT e.user_id, e.feature, e.v,
                             CASE WHEN e.us >= s.mid THEN 1 ELSE 0 END AS cls
                      FROM e JOIN spans s ON e.user_id = s.user_id),
              ${exstreamChainSql("user_id")}
         SELECT user_id, string_agg(feature, ' ' ORDER BY rank) AS features,
                CAST(count(*) AS INT) AS n_features
         FROM kept GROUP BY user_id ORDER BY user_id"""

  // q38: the chain over (rs, user_id) — rs = -1 is the full data, 0..4
  // the five md5-hash 80% wide-row resamples — then the multiset
  // instability entropy over the resample explanations (q16's form).
  private val exstreamInstabilitySql =
    s"""WITH e AS (SELECT user_id, event_id, event_type AS feature,
                value + event_id*1e-6 AS v, epoch_us(ts) AS us FROM events),
              spans AS (SELECT user_id, (min(us)+max(us))/2 AS mid FROM e GROUP BY user_id),
              r AS (SELECT rs FROM range(-1, 5) t(rs)),
              obs AS (SELECT r.rs, e.user_id, e.feature, e.v,
                             CASE WHEN e.us >= s.mid THEN 1 ELSE 0 END AS cls
                      FROM e JOIN spans s ON e.user_id = s.user_id CROSS JOIN r
                      WHERE r.rs = -1 OR
                            md5(CAST(e.user_id AS VARCHAR)||'_'||CAST(e.us AS VARCHAR)||'_'||CAST(r.rs AS VARCHAR)) < 'cc'),
              ${exstreamChainSql("rs, user_id")},
              main AS (SELECT user_id, string_agg(feature, ' ' ORDER BY rank) AS features,
                              CAST(count(*) AS INT) AS exp_size
                       FROM kept WHERE rs = -1 GROUP BY user_id),
              c AS (SELECT user_id, feature, count(*) AS k
                    FROM kept WHERE rs >= 0 GROUP BY user_id, feature),
              t2 AS (SELECT user_id, sum(k) AS n FROM c GROUP BY user_id),
              inst AS (SELECT c.user_id, round(sum(-(k*1.0/n)*log2(k*1.0/n)), 6) AS exp_instability
                       FROM c JOIN t2 ON c.user_id = t2.user_id GROUP BY c.user_id)
         SELECT m.user_id, m.features, m.exp_size,
                coalesce(i.exp_instability, 0.0) AS exp_instability
         FROM main m LEFT JOIN inst i ON m.user_id = i.user_id
         ORDER BY m.user_id"""

  /** q149's full 2-round unigram-LM hard-EM loop unrolled as MATERIALIZED
    * chained CTEs (the q78/q87/q138 pattern): per round, 16 DP steps
    * (integer-cost Viterbi best[] over word positions, carried as a
    * growing acc table) then 16 backtrace steps whose arg_min key
    * (total*8 + piece_len) mirrors UnigramTrainer.viterbiPieces'
    * tie-break exactly — the key is collision-free because piece_len <=
    * 4 < 8 and unique per candidate. All DP arithmetic is BIGINT; the
    * only float op is the per-piece smoothed-cost ln of identical exact
    * integers, rounded to 1e6 (the q108 discipline). */
  private def unigramCtes: String = {
    val MAXW = 16; val MAXP = 4; val M1 = 60
    val M2 = math.ceil(M1 * 0.75).toInt
    def costCte(name: String, src: String): String =
      s"""$name AS MATERIALIZED (
            SELECT piece, CAST(round(-ln((c + 1.0) / (tot + nv)) * 1000000) AS BIGINT) AS cost
            FROM $src CROSS JOIN (SELECT CAST(sum(c) AS BIGINT) AS tot,
                                         CAST(count(*) AS BIGINT) AS nv FROM $src) st)"""
    def roundCtes(r: Int, vtab: String): String = {
      val sb = new StringBuilder
      sb ++= s"a${r}_0 AS MATERIALIZED (SELECT word, wc, len, 0 AS pos, CAST(0 AS BIGINT) AS best FROM w),\n"
      for (i <- 1 to MAXW)
        sb ++= s"""a${r}_$i AS MATERIALIZED (
              SELECT word, wc, len, pos, best FROM a${r}_${i - 1}
              UNION ALL
              SELECT word, wc, len, $i AS pos, best FROM (
                SELECT s.word, s.wc, s.len, MIN(s.best + v.cost) AS best
                FROM a${r}_${i - 1} s JOIN $vtab v
                  ON v.piece = substr(s.word, s.pos + 1, $i - s.pos)
                WHERE s.pos >= $i - $MAXP AND s.pos < $i AND s.len >= $i
                GROUP BY s.word, s.wc, s.len) g),\n"""
      sb ++= s"bt${r}_0 AS MATERIALIZED (SELECT word, wc, len AS pos FROM w),\n"
      for (k <- 1 to MAXW)
        sb ++= s"""bt${r}_$k AS MATERIALIZED (
              SELECT word, wc, pos - length(piece) AS pos, piece FROM (
                SELECT b.word, b.wc, b.pos,
                       arg_min(v.piece, (t.best + v.cost) * 8 + (b.pos - t.pos)) AS piece
                FROM bt${r}_${k - 1} b
                JOIN a${r}_$MAXW t ON t.word = b.word
                                  AND t.pos >= b.pos - $MAXP AND t.pos < b.pos
                JOIN $vtab v ON v.piece = substr(b.word, t.pos + 1, b.pos - t.pos)
                WHERE b.pos > 0
                GROUP BY b.word, b.wc, b.pos) g),\n"""
      sb ++= s"p$r AS MATERIALIZED (" +
        (1 to MAXW).map(k => s"SELECT word, wc, piece FROM bt${r}_$k").mkString(" UNION ALL ") +
        "),\n"
      sb ++= s"c$r AS MATERIALIZED (SELECT piece, CAST(sum(wc) AS BIGINT) AS c FROM p$r GROUP BY piece),\n"
      sb.toString
    }
    s"""w AS MATERIALIZED (
          SELECT word, CAST(count(*) AS BIGINT) AS wc, CAST(length(word) AS INT) AS len
          FROM (SELECT unnest(string_split_regex(text, $wsSql)) AS word FROM documents) t
          WHERE length(word) BETWEEN 1 AND $MAXW GROUP BY word),
        cand AS MATERIALIZED (
          SELECT piece, CAST(sum(wc) AS BIGINT) AS c FROM (
            SELECT w.wc, substr(w.word, CAST(r1.i AS INT), CAST(r2.j AS INT)) AS piece
            FROM w CROSS JOIN range(1, ${MAXW + 1}) r1(i) CROSS JOIN range(1, ${MAXP + 1}) r2(j)
            WHERE CAST(r1.i AS INT) + CAST(r2.j AS INT) - 1 <= w.len) t
          GROUP BY piece),
        seed AS MATERIALIZED (
          SELECT piece, c FROM cand WHERE length(piece) = 1
          UNION ALL
          SELECT piece, c FROM (
            SELECT piece, c FROM cand WHERE length(piece) > 1
            ORDER BY c DESC, piece LIMIT $M1) t),
        ${costCte("v1", "seed")},
        ${roundCtes(1, "v1")}
        vc2 AS MATERIALIZED (
          SELECT s.piece, COALESCE(c1.c, CAST(0 AS BIGINT)) AS c
          FROM (SELECT piece FROM seed WHERE length(piece) = 1) s
          LEFT JOIN c1 ON s.piece = c1.piece
          UNION ALL
          SELECT piece, c FROM (
            SELECT piece, c FROM c1 WHERE length(piece) > 1
            ORDER BY c DESC, piece LIMIT $M2) t),
        ${costCte("v2", "vc2")},
        ${roundCtes(2, "v2")}
        fin AS (SELECT 1 AS one)"""
  }

  /** q153's 3 integer Lloyd rounds unrolled (the q78/q87/q149 pattern):
    * assignment = row_number over (dist, cid) per vector; update =
    * sign-split truncating division (Java /'s toward-zero semantics vs
    * DuckDB //'s floor — split on sign so they agree); empty clusters
    * COALESCE to the previous centroid. */
  private def kmeansExactSql: String =
    s"""WITH ${kmeansCtes(8, 3)},
        nn AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM a3 GROUP BY cid)
        SELECT c3.cid, c3.pos, c3.cq, COALESCE(nn.n, CAST(0 AS BIGINT)) AS n
        FROM c3 LEFT JOIN nn ON c3.cid = nn.cid
        ORDER BY c3.cid, c3.pos"""

  /** q153's unrolled integer-Lloyd chain as reusable CTEs (u / seeds /
    * c0, then d_r / a_r / s_r / c_r per round) — q153 reads the final
    * centroids+sizes, q173 appends one more assignment pass against the
    * final c_R to stratify documents by cell. */
  /** q232's Weiszfeld rounds unrolled (the kmeansCtes discipline: vq
    * bridge, sign-split truncating //, LEFT JOIN carry-forward). */
  private def gmedCtes(R: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""u AS MATERIALIZED (
          SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024.0) AS BIGINT) AS vq
          FROM embeddings),
        x0 AS MATERIALIZED (
          SELECT pos, CASE WHEN sv >= 0 THEN (sv * 1000) // n
                           ELSE -(((-sv) * 1000) // n) END AS x
          FROM (SELECT pos, CAST(sum(vq) AS BIGINT) AS sv,
                       CAST(count(*) AS BIGINT) AS n
                FROM u GROUP BY pos) t),\n"""
    for (r <- 1 to R) {
      sb ++= s"""d$r AS MATERIALIZED (
          SELECT u.vec_id,
                 CAST(sum((u.vq * 1000 - x.x) * (u.vq * 1000 - x.x)) AS BIGINT) AS d2
          FROM u JOIN x${r - 1} x ON u.pos = x.pos GROUP BY u.vec_id),
        w$r AS MATERIALIZED (
          SELECT vec_id, CAST(round(1e12 / sqrt(CAST(d2 AS DOUBLE)), 0) AS BIGINT) AS w
          FROM d$r WHERE d2 > 0),
        x$r AS MATERIALIZED (
          SELECT p.pos, coalesce(CASE WHEN t.den > 0 THEN
                   CASE WHEN t.num >= 0 THEN CAST(t.num // t.den AS BIGINT)
                        ELSE CAST(-((-t.num) // t.den) AS BIGINT) END END, p.x) AS x
          FROM x${r - 1} p LEFT JOIN (
            SELECT u.pos, sum(CAST(w.w AS HUGEINT) * u.vq * 1000) AS num,
                   CAST(sum(w.w) AS BIGINT) AS den
            FROM u JOIN w$r w USING (vec_id) GROUP BY u.pos) t ON t.pos = p.pos),\n"""
    }
    val out = sb.toString
    out.reverse.replaceFirst("\\s*,", "").reverse
  }

  /** q235/q236 trainer rounds unrolled (r14 verdict #3): the hashed
    * feature table, then per round a MATERIALIZED probability pass, a
    * HUGEINT gradient aggregate, and the sign-split truncating weight
    * update — the exact integer arithmetic of
    * `operators/QualityClassifier.train` (lrNum=1, lrDen=256; the pm
    * expression comes VERBATIM from QualityClassifier.pmOracleSql).
    * Expects the `scored` CTE ([[scoredDocsCte]]) already in scope. */
  private def qualityLrCtes(R: Int): String = {
    import graft.operators.QualityClassifier.{K => LRK}
    val sb = new StringBuilder
    val xcols = (0 until LRK).map(j =>
      s"CAST(least(coalesce(sum(CASE WHEN b = $j THEN 1 END), 0), 31) AS BIGINT) AS x$j")
      .mkString(",\n                 ")
    sb ++= s"""lrtk AS (
          SELECT d.doc_id, round(s.q, 6) >= 0.8 AS is_target,
                 ('0x' || substr(md5(d.tok), 1, 15))::BIGINT % $LRK AS b
          FROM (SELECT doc_id,
                       unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS tok
                FROM documents) d
          JOIN scored s ON s.doc_id = d.doc_id),
        feat AS MATERIALIZED (
          SELECT doc_id,
                 CAST(CASE WHEN is_target THEN 1000000 ELSE 0 END AS BIGINT) AS ym,
                 $xcols
          FROM lrtk GROUP BY 1, 2),
        nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM feat),
        wr0 AS (SELECT ${(0 to LRK).map(j => s"CAST(0 AS HUGEINT) AS w$j").mkString(", ")}),\n"""
    for (r <- 1 to R) {
      val gcols = (0 until LRK).map(j =>
        s"CAST(sum((pm - ym) * x$j) AS HUGEINT) AS g$j")
        .mkString(",\n                 ") +
        s",\n                 CAST(sum(pm - ym) AS HUGEINT) AS g$LRK"
      val wcols = (0 to LRK).map(j =>
        s"w.w$j - (CASE WHEN g.g$j < 0 THEN -1 ELSE 1 END) * " +
          s"((abs(g.g$j) * 1) // (256 * nn.n)) AS w$j")
        .mkString(",\n                 ")
      sb ++= s"""p$r AS MATERIALIZED (
          SELECT f.ym, ${(0 until LRK).map(j => s"f.x$j").mkString(", ")},
                 ${graft.operators.QualityClassifier.pmOracleSql("w")} AS pm
          FROM feat f CROSS JOIN wr${r - 1} w),
        g$r AS (SELECT $gcols FROM p$r),
        wr$r AS MATERIALIZED (
          SELECT $wcols
          FROM wr${r - 1} w CROSS JOIN g$r g CROSS JOIN nn),\n"""
    }
    val out = sb.toString
    out.reverse.replaceFirst("\\s*,", "").reverse
  }

  private def kmeansCtes(K: Int, R: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""u AS MATERIALIZED (
          SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024.0) AS BIGINT) AS vq
          FROM embeddings),
        seeds AS MATERIALIZED (
          SELECT vec_id, CAST(rn - 1 AS INT) AS cid FROM (
            SELECT vec_id, row_number() OVER (ORDER BY m, vec_id) AS rn FROM (
              SELECT vec_id, ${graft.functions.PortableHash
                .duckdbMd5Long("vec_id::VARCHAR", 15)} AS m
              FROM embeddings) t1) t2
          WHERE rn <= $K),
        c0 AS MATERIALIZED (
          SELECT s.cid, u.pos, u.vq AS cq FROM seeds s JOIN u ON s.vec_id = u.vec_id),\n"""
    for (r <- 1 to R) {
      sb ++= s"""d$r AS MATERIALIZED (
          SELECT u.vec_id, c.cid,
                 CAST(sum((u.vq - c.cq) * (u.vq - c.cq)) AS BIGINT) AS dist
          FROM u JOIN c${r - 1} c ON u.pos = c.pos
          GROUP BY u.vec_id, c.cid),
        a$r AS MATERIALIZED (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d$r) t WHERE rn = 1),
        s$r AS MATERIALIZED (
          SELECT a.cid, u.pos, CAST(sum(u.vq) AS BIGINT) AS sv,
                 CAST(count(*) AS BIGINT) AS n
          FROM a$r a JOIN u ON a.vec_id = u.vec_id
          GROUP BY a.cid, u.pos),
        c$r AS MATERIALIZED (
          SELECT p.cid, p.pos,
                 COALESCE(CASE WHEN s.n > 0 THEN
                   CASE WHEN s.sv >= 0 THEN s.sv // s.n
                        ELSE -((-s.sv) // s.n) END END, p.cq) AS cq
          FROM c${r - 1} p LEFT JOIN s$r s ON p.cid = s.cid AND p.pos = s.pos),\n"""
    }
    val out = sb.toString
    // each round's block ends ",\n" — drop the trailing comma
    out.reverse.replaceFirst("\\s*,", "").reverse
  }

  /** q154/q155's shared PQ CTEs: q153's unrolled integer Lloyd with a
    * `sub` column threaded through (assignment partitions by (vec_id,
    * sub), updates group by (sub, cid, pos)). Fixture dim 64, 4
    * subspaces of 16 (the oracle pins fixture geometry, like q140's
    * annBucketsSql dims). */
  private def pqCtes: String = pqCtesP("", 16)

  /** Prefix-parameterized form so two independent trainings compose in
    * ONE oracle query (q157: `kv_` full-vector cells with subDim 64 +
    * `pq_` codebooks with subDim 16); prefix "" keeps the q154/q155/
    * q156 SQL byte-identical. `uSrc` (q159) swaps the training input
    * from the embeddings unnest to any (vec_id, pos, vq) CTE — the
    * residual table; seeds stay the md5-order ids (the seed VECTORS
    * come from the swapped source via the c0 join, matching
    * pqTrainExactQuantized's init over the same table). */
  private def pqCtesP(p: String, subDim: Int, uSrc: String = ""): String = {
    val K = 8; val R = 3
    val uBody =
      if (uSrc.isEmpty)
        """SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024.0) AS BIGINT) AS vq
          FROM embeddings"""
      else s"SELECT vec_id, pos, vq FROM $uSrc"
    val sb = new StringBuilder
    sb ++= s"""${p}u AS MATERIALIZED ($uBody),
        ${p}us AS MATERIALIZED (
          SELECT vec_id, pos, CAST(pos // $subDim AS INT) AS sub, vq FROM ${p}u),
        ${p}seeds AS MATERIALIZED (
          SELECT vec_id, CAST(rn - 1 AS INT) AS cid FROM (
            SELECT vec_id, row_number() OVER (ORDER BY m, vec_id) AS rn FROM (
              SELECT vec_id, ${graft.functions.PortableHash
                .duckdbMd5Long("vec_id::VARCHAR", 15)} AS m
              FROM embeddings) t1) t2
          WHERE rn <= $K),
        ${p}c0 AS MATERIALIZED (
          SELECT us.sub, s.cid, us.pos, us.vq AS cq
          FROM ${p}seeds s JOIN ${p}us us ON s.vec_id = us.vec_id),\n"""
    for (r <- 1 to R) {
      sb ++= s"""${p}d$r AS MATERIALIZED (
          SELECT us.vec_id, c.sub, c.cid,
                 CAST(sum((us.vq - c.cq) * (us.vq - c.cq)) AS BIGINT) AS dist
          FROM ${p}us us JOIN ${p}c${r - 1} c ON us.pos = c.pos
          GROUP BY us.vec_id, c.sub, c.cid),
        ${p}a$r AS MATERIALIZED (
          SELECT vec_id, sub, cid, dist FROM (
            SELECT vec_id, sub, cid, dist,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM ${p}d$r) t WHERE rn = 1),
        ${p}s$r AS MATERIALIZED (
          SELECT a.sub, a.cid, us.pos, CAST(sum(us.vq) AS BIGINT) AS sv,
                 CAST(count(*) AS BIGINT) AS n
          FROM ${p}a$r a JOIN ${p}us us ON a.vec_id = us.vec_id AND a.sub = us.sub
          GROUP BY a.sub, a.cid, us.pos),
        ${p}c$r AS MATERIALIZED (
          SELECT p.sub, p.cid, p.pos,
                 COALESCE(CASE WHEN s.n > 0 THEN
                   CASE WHEN s.sv >= 0 THEN s.sv // s.n
                        ELSE -((-s.sv) // s.n) END END, p.cq) AS cq
          FROM ${p}c${r - 1} p LEFT JOIN ${p}s$r s
            ON p.sub = s.sub AND p.cid = s.cid AND p.pos = s.pos),\n"""
    }
    sb ++= s"""${p}fin AS (SELECT 1 AS one)"""
    sb.toString
  }

  private def pqCodebooksSql: String =
    s"""WITH $pqCtes,
        nn AS (SELECT sub, cid, CAST(count(DISTINCT vec_id) AS BIGINT) AS n
               FROM a3 GROUP BY sub, cid)
        SELECT c3.sub, c3.cid, c3.pos, c3.cq, COALESCE(nn.n, CAST(0 AS BIGINT)) AS n
        FROM c3 LEFT JOIN nn ON c3.sub = nn.sub AND c3.cid = nn.cid
        ORDER BY c3.sub, c3.cid, c3.pos"""

  private def pqErrorSql: String =
    s"""WITH $pqCtes,
        d4 AS MATERIALIZED (
          SELECT us.vec_id, c.sub, c.cid,
                 CAST(sum((us.vq - c.cq) * (us.vq - c.cq)) AS BIGINT) AS dist
          FROM us JOIN c3 c ON us.pos = c.pos
          GROUP BY us.vec_id, c.sub, c.cid),
        a4 AS MATERIALIZED (
          SELECT vec_id, sub, dist FROM (
            SELECT vec_id, sub, dist,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM d4) t WHERE rn = 1),
        ve AS (SELECT vec_id, CAST(sum(dist) AS BIGINT) AS err
               FROM a4 GROUP BY vec_id)
        SELECT e.label, CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(sum(ve.err) AS BIGINT) AS total_err,
               CAST(sum(ve.err) AS BIGINT) // (CAST(count(*) AS BIGINT) * 64)
                 AS err_per_dim
        FROM ve JOIN embeddings e ON ve.vec_id = e.vec_id
        GROUP BY e.label ORDER BY e.label"""

  private def pqAdcRecallSql: String =
    s"""WITH $pqCtes,
        d4 AS MATERIALIZED (
          SELECT us.vec_id, c.sub, c.cid,
                 CAST(sum((us.vq - c.cq) * (us.vq - c.cq)) AS BIGINT) AS dist
          FROM us JOIN c3 c ON us.pos = c.pos
          GROUP BY us.vec_id, c.sub, c.cid),
        a4 AS MATERIALIZED (
          SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM d4) t WHERE rn = 1),
        qids AS MATERIALIZED (
          SELECT vec_id FROM (
            SELECT vec_id, row_number() OVER (ORDER BY ${graft.functions
              .PortableHash.duckdbMd5Long("'q:' || vec_id::VARCHAR", 15)},
              vec_id) AS rn
            FROM embeddings) t WHERE rn <= 8),
        qus AS MATERIALIZED (
          SELECT us.vec_id, us.pos, us.vq FROM us
          JOIN qids ON us.vec_id = qids.vec_id),
        adc AS MATERIALIZED (
          SELECT qu.vec_id AS query_id, a.vec_id AS vid,
                 CAST(sum((qu.vq - c.cq) * (qu.vq - c.cq)) AS BIGINT) AS adc
          FROM a4 a JOIN c3 c ON a.sub = c.sub AND a.cid = c.cid
          JOIN qus qu ON qu.pos = c.pos
          WHERE a.vec_id <> qu.vec_id
          GROUP BY qu.vec_id, a.vec_id),
        exd AS MATERIALIZED (
          SELECT qu.vec_id AS query_id, xu.vec_id AS vid,
                 CAST(sum((qu.vq - xu.vq) * (qu.vq - xu.vq)) AS BIGINT) AS ex
          FROM us xu JOIN qus qu ON qu.pos = xu.pos
          WHERE xu.vec_id <> qu.vec_id
          GROUP BY qu.vec_id, xu.vec_id),
        ta AS (SELECT query_id, vid FROM (
                 SELECT query_id, vid, row_number() OVER (
                   PARTITION BY query_id ORDER BY adc, vid) AS rn FROM adc) t
               WHERE rn <= 5),
        te AS (SELECT query_id, vid FROM (
                 SELECT query_id, vid, row_number() OVER (
                   PARTITION BY query_id ORDER BY ex, vid) AS rn FROM exd) t
               WHERE rn <= 5)
        SELECT ta.query_id, CAST(count(te.vid) AS BIGINT) AS n_overlap,
               CAST((CAST(count(te.vid) AS BIGINT) * 1000000) // 5 AS DOUBLE)
                 / 1000000.0 AS recall
        FROM ta LEFT JOIN te ON ta.query_id = te.query_id AND ta.vid = te.vid
        GROUP BY ta.query_id ORDER BY ta.query_id"""

  /** q157: both trainings composed in one query (prefixed CTE sets),
    * then probe -> candidate -> ADC -> overlap — all integer. */
  private def ivfpqSearchSql: String =
    s"""WITH ${pqCtesP("kv_", 64)},
        ${pqCtesP("pq_", 16)},
        kvd4 AS MATERIALIZED (
          SELECT us.vec_id, c.cid,
                 CAST(sum((us.vq - c.cq) * (us.vq - c.cq)) AS BIGINT) AS dist
          FROM kv_us us JOIN kv_c3 c ON us.pos = c.pos
          GROUP BY us.vec_id, c.cid),
        kva4 AS MATERIALIZED (
          SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM kvd4) t WHERE rn = 1),
        pqd4 AS MATERIALIZED (
          SELECT us.vec_id, c.sub, c.cid,
                 CAST(sum((us.vq - c.cq) * (us.vq - c.cq)) AS BIGINT) AS dist
          FROM pq_us us JOIN pq_c3 c ON us.pos = c.pos
          GROUP BY us.vec_id, c.sub, c.cid),
        pqa4 AS MATERIALIZED (
          SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM pqd4) t WHERE rn = 1),
        qids AS MATERIALIZED (
          SELECT vec_id FROM (
            SELECT vec_id, row_number() OVER (ORDER BY ${graft.functions
              .PortableHash.duckdbMd5Long("'q:' || vec_id::VARCHAR", 15)},
              vec_id) AS rn
            FROM embeddings) t WHERE rn <= 8),
        qus AS MATERIALIZED (
          SELECT us.vec_id, us.pos, us.vq FROM pq_us us
          JOIN qids ON us.vec_id = qids.vec_id),
        cellrank AS MATERIALIZED (
          SELECT query_id, cell FROM (
            SELECT qu.vec_id AS query_id, c.cid AS cell,
                   row_number() OVER (PARTITION BY qu.vec_id
                     ORDER BY sum((qu.vq - c.cq) * (qu.vq - c.cq)), c.cid) AS rn
            FROM qus qu JOIN kv_c3 c ON qu.pos = c.pos
            GROUP BY qu.vec_id, c.cid) t
          WHERE rn <= 2),
        cand AS MATERIALIZED (
          SELECT cr.query_id, a.vec_id AS vid
          FROM kva4 a JOIN cellrank cr ON a.cell = cr.cell
          WHERE a.vec_id <> cr.query_id),
        adc AS MATERIALIZED (
          SELECT cd.query_id, cd.vid,
                 CAST(sum((qu.vq - c.cq) * (qu.vq - c.cq)) AS BIGINT) AS adc
          FROM cand cd
          JOIN pqa4 a ON a.vec_id = cd.vid
          JOIN pq_c3 c ON a.sub = c.sub AND a.cid = c.cid
          JOIN qus qu ON qu.pos = c.pos AND qu.vec_id = cd.query_id
          GROUP BY cd.query_id, cd.vid),
        exd AS MATERIALIZED (
          SELECT qu.vec_id AS query_id, xu.vec_id AS vid,
                 CAST(sum((qu.vq - xu.vq) * (qu.vq - xu.vq)) AS BIGINT) AS ex
          FROM pq_us xu JOIN qus qu ON qu.pos = xu.pos
          WHERE xu.vec_id <> qu.vec_id
          GROUP BY qu.vec_id, xu.vec_id),
        ta AS (SELECT query_id, vid FROM (
                 SELECT query_id, vid, row_number() OVER (
                   PARTITION BY query_id ORDER BY adc, vid) AS rn FROM adc) t
               WHERE rn <= 5),
        te AS (SELECT query_id, vid FROM (
                 SELECT query_id, vid, row_number() OVER (
                   PARTITION BY query_id ORDER BY ex, vid) AS rn FROM exd) t
               WHERE rn <= 5),
        nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_cand
               FROM cand GROUP BY query_id),
        ov AS (SELECT te.query_id, CAST(count(ta.vid) AS BIGINT) AS n_overlap
               FROM te LEFT JOIN ta
                 ON ta.query_id = te.query_id AND ta.vid = te.vid
               GROUP BY te.query_id)
        SELECT ov.query_id, COALESCE(nc.n_cand, CAST(0 AS BIGINT)) AS n_cand,
               ov.n_overlap,
               CAST((ov.n_overlap * 1000000) // 5 AS DOUBLE) / 1000000.0 AS recall
        FROM ov LEFT JOIN nc ON ov.query_id = nc.query_id
        ORDER BY ov.query_id"""

  /** q159: q157's chain with RESIDUAL encoding — the `res` CTE subtracts
    * each vector's assigned cell centroid (integer), the `pq_` training
    * CTEs consume `res` instead of the embeddings unnest, and ADC runs
    * the query's per-probed-cell residual against the reconstructed
    * candidate residual. Exact distances stay on the full vectors
    * (kv_u). All integer end to end. */
  private def ivfadcResidualSql: String =
    s"""WITH ${pqCtesP("kv_", 64)},
        kvd4 AS MATERIALIZED (
          SELECT us.vec_id, c.cid,
                 CAST(sum((us.vq - c.cq) * (us.vq - c.cq)) AS BIGINT) AS dist
          FROM kv_us us JOIN kv_c3 c ON us.pos = c.pos
          GROUP BY us.vec_id, c.cid),
        kva4 AS MATERIALIZED (
          SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM kvd4) t WHERE rn = 1),
        res AS MATERIALIZED (
          SELECT u.vec_id, u.pos, u.vq - c.cq AS vq
          FROM kv_u u JOIN kva4 a ON u.vec_id = a.vec_id
          JOIN kv_c3 c ON c.cid = a.cell AND c.pos = u.pos),
        ${pqCtesP("pq_", 16, "res")},
        pqd4 AS MATERIALIZED (
          SELECT us.vec_id, c.sub, c.cid,
                 CAST(sum((us.vq - c.cq) * (us.vq - c.cq)) AS BIGINT) AS dist
          FROM pq_us us JOIN pq_c3 c ON us.pos = c.pos
          GROUP BY us.vec_id, c.sub, c.cid),
        pqa4 AS MATERIALIZED (
          SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, cid) AS rn
            FROM pqd4) t WHERE rn = 1),
        qids AS MATERIALIZED (
          SELECT vec_id FROM (
            SELECT vec_id, row_number() OVER (ORDER BY ${graft.functions
              .PortableHash.duckdbMd5Long("'q:' || vec_id::VARCHAR", 15)},
              vec_id) AS rn
            FROM embeddings) t WHERE rn <= 8),
        qus AS MATERIALIZED (
          SELECT u.vec_id, u.pos, u.vq FROM kv_u u
          JOIN qids ON u.vec_id = qids.vec_id),
        cellrank AS MATERIALIZED (
          SELECT query_id, cell FROM (
            SELECT qu.vec_id AS query_id, c.cid AS cell,
                   row_number() OVER (PARTITION BY qu.vec_id
                     ORDER BY sum((qu.vq - c.cq) * (qu.vq - c.cq)), c.cid) AS rn
            FROM qus qu JOIN kv_c3 c ON qu.pos = c.pos
            GROUP BY qu.vec_id, c.cid) t
          WHERE rn <= 2),
        qres AS MATERIALIZED (
          SELECT cr.query_id, cr.cell, qu.pos, qu.vq - c.cq AS rvq
          FROM cellrank cr
          JOIN qus qu ON qu.vec_id = cr.query_id
          JOIN kv_c3 c ON c.cid = cr.cell AND c.pos = qu.pos),
        cand AS MATERIALIZED (
          SELECT cr.query_id, a.vec_id AS vid, a.cell
          FROM kva4 a JOIN cellrank cr ON a.cell = cr.cell
          WHERE a.vec_id <> cr.query_id),
        adc AS MATERIALIZED (
          SELECT cd.query_id, cd.vid,
                 CAST(sum((qr.rvq - c.cq) * (qr.rvq - c.cq)) AS BIGINT) AS adc
          FROM cand cd
          JOIN pqa4 a ON a.vec_id = cd.vid
          JOIN pq_c3 c ON a.sub = c.sub AND a.cid = c.cid
          JOIN qres qr ON qr.query_id = cd.query_id AND qr.cell = cd.cell
                       AND qr.pos = c.pos
          GROUP BY cd.query_id, cd.vid),
        exd AS MATERIALIZED (
          SELECT qu.vec_id AS query_id, xu.vec_id AS vid,
                 CAST(sum((qu.vq - xu.vq) * (qu.vq - xu.vq)) AS BIGINT) AS ex
          FROM kv_u xu JOIN qus qu ON qu.pos = xu.pos
          WHERE xu.vec_id <> qu.vec_id
          GROUP BY qu.vec_id, xu.vec_id),
        ta AS (SELECT query_id, vid FROM (
                 SELECT query_id, vid, row_number() OVER (
                   PARTITION BY query_id ORDER BY adc, vid) AS rn FROM adc) t
               WHERE rn <= 5),
        te AS (SELECT query_id, vid FROM (
                 SELECT query_id, vid, row_number() OVER (
                   PARTITION BY query_id ORDER BY ex, vid) AS rn FROM exd) t
               WHERE rn <= 5),
        nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_cand
               FROM cand GROUP BY query_id),
        ov AS (SELECT te.query_id, CAST(count(ta.vid) AS BIGINT) AS n_overlap
               FROM te LEFT JOIN ta
                 ON ta.query_id = te.query_id AND ta.vid = te.vid
               GROUP BY te.query_id)
        SELECT ov.query_id, COALESCE(nc.n_cand, CAST(0 AS BIGINT)) AS n_cand,
               ov.n_overlap,
               CAST((ov.n_overlap * 1000000) // 5 AS DOUBLE) / 1000000.0 AS recall
        FROM ov LEFT JOIN nc ON ov.query_id = nc.query_id
        ORDER BY ov.query_id"""

  private def unigramTrainSql: String =
    s"""WITH $unigramCtes
        SELECT piece, cnt, cost FROM (
          SELECT c2.piece, c2.c AS cnt, v2.cost
          FROM c2 JOIN v2 ON c2.piece = v2.piece
          UNION ALL
          SELECT v2.piece, CAST(0 AS BIGINT) AS cnt, v2.cost
          FROM v2 WHERE length(v2.piece) = 1
            AND v2.piece NOT IN (SELECT piece FROM c2)) t
        ORDER BY piece"""

  /** q152's apply: the round-2 backtrace p2 already IS every word's
    * segmentation under the final costs (the train==apply property), so
    * per-word piece counts join back to the per-doc tf table — never a
    * per-corpus-token DP. */
  private def unigramApplySql: String =
    s"""WITH $unigramCtes,
        wnp AS (SELECT word, CAST(count(*) AS BIGINT) AS np FROM p2 GROUP BY word),
        dtf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM (
                  SELECT doc_id, unnest(string_split_regex(text, $wsSql)) AS word
                  FROM documents) t
                WHERE length(word) BETWEEN 1 AND 16
                GROUP BY doc_id, word)
        SELECT dtf.doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
               CAST(sum(tf * np) AS BIGINT) AS n_pieces,
               CAST((CAST(sum(tf * np) AS BIGINT) * 1000000)
                 // CAST(sum(tf) AS BIGINT) AS DOUBLE) / 1000000.0 AS fertility
        FROM dtf JOIN wnp ON dtf.word = wnp.word
        GROUP BY dtf.doc_id ORDER BY dtf.doc_id"""

  val oracleSql: Map[String, String] = Map(
    // the full hard-EM unigram trainer loop, unrolled (see unigramCtes)
    "q149_unigram_train" -> unigramTrainSql,

    // train CTEs + per-word piece counts joined to per-doc tf
    "q152_unigram_tokenize" -> unigramApplySql,

    // integer Lloyd rounds unrolled; sign-split // mirrors Java's
    // toward-zero division; COALESCE keeps empty clusters' centroids
    "q153_kmeans_exact" -> kmeansExactSql,

    // q153's CTEs with a sub column threaded through (see pqCtes)
    "q154_pq_codebooks" -> pqCodebooksSql,

    // one more assignment round over the trained c3; chosen dists SUM to
    // the exact reconstruction error
    "q155_pq_error" -> pqErrorSql,

    // corpus encode (a4 with cid) + ADC via code-centroid join + exact
    // distances, top-5 each per query, overlap count — all integer
    "q156_pq_adc_recall" -> pqAdcRecallSql,

    // both trainings composed (kv_/pq_ prefixed CTEs) + probe/ADC/overlap
    "q157_ivfpq_search" -> ivfpqSearchSql,

    "q159_ivfadc_residual" -> ivfadcResidualSql,

    // the q87 unroll with the WordPiece score selection: win_k ranks by
    // the exact integer (n * 10^12) // (cx * cy) — DuckDB // == Spark
    // div on positives — and the replace strips the merged right part's
    // ## marker; v0 builds the ##-continuation alphabet
    "q160_wordpiece_train" -> wordpieceTrainSql,

    // capped training unroll + 16 greedy maximal-munch steps over the
    // final inventory (COALESCE fallback = the per-char OOV advance)
    "q161_wordpiece_tokenize" -> wordpieceApplySql,

    // farthest-point rounds unrolled: two-level min dist-to-set, argmax
    // winner, growing UNION ALL selected set; md5-order seed
    "q162_kcenter_coreset" -> kcenterSql,

    // 3 batch-perceptron rounds unrolled: integer margins vs the
    // previous weight table, y*m<=0 filter, bucket-aggregate update
    "q163_perceptron_langid" -> perceptronSql,

    // cells + codebooks composed into all-anchors same-cell
    // different-label ADC mining; pqd4 is the anchor LUT table
    "q164_hard_negatives" -> hardNegativesSql,

    // q43's recursive components + md5 exact clusters -> pair-level
    // agreement via comb2 sums over the three groupings (all integers;
    // nonneg micro-scaled division, so // == div)
    "q166_dedup_agreement" ->
      s"""WITH RECURSIVE $minhashPairsCte,
              p AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
              edges AS (SELECT doc_a AS a, doc_b AS b FROM p
                        UNION SELECT doc_b, doc_a FROM p),
              reach(src, dst) AS (
                SELECT a, a FROM edges
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
              cl AS (SELECT src AS doc_id, min(dst) AS cluster_id
                     FROM reach GROUP BY src),
              ex AS (SELECT doc_id, md5(text) AS c1 FROM documents),
              mh AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS c2
                     FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
              j AS MATERIALIZED (SELECT ex.doc_id, ex.c1, mh.c2
                                 FROM ex JOIN mh ON ex.doc_id = mh.doc_id),
              pa AS (SELECT CAST(COALESCE(sum(n * (n - 1) // 2), 0) AS BIGINT) AS pa
                     FROM (SELECT count(*) AS n FROM j GROUP BY c1, c2) t),
              pr AS (SELECT CAST(COALESCE(sum(n * (n - 1) // 2), 0) AS BIGINT) AS pr
                     FROM (SELECT count(*) AS n FROM j GROUP BY c1) t),
              pc AS (SELECT CAST(COALESCE(sum(n * (n - 1) // 2), 0) AS BIGINT) AS pc
                     FROM (SELECT count(*) AS n FROM j GROUP BY c2) t),
              nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM j)
         SELECT nn.n_docs,
                pa.pa AS pairs_both,
                pr.pr - pa.pa AS pairs_exact_only,
                pc.pc - pa.pa AS pairs_minhash_only,
                (nn.n_docs * (nn.n_docs - 1) // 2) - pr.pr - pc.pc + pa.pa
                  AS pairs_neither,
                CASE WHEN pr.pr + pc.pc - pa.pa = 0 THEN 0.0
                     ELSE CAST((pa.pa * 1000000) // (pr.pr + pc.pc - pa.pa)
                               AS DOUBLE) / 1000000.0 END AS jaccard_agreement
         FROM pa, pr, pc, nn ORDER BY nn.n_docs""",

    // one IEEE sqrt floor-micro-scaled (the q126 discipline), Hamilton
    // largest-remainder, boost as an exact integer ratio
    "q165_temperature_mixture" ->
      """WITH st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
                     FROM documents GROUP BY lang),
              sw AS (SELECT lang, n_docs,
                            CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
                     FROM st),
              tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
                             CAST(sum(n_docs) AS BIGINT) AS nd FROM sw),
              q0 AS (SELECT sw.*, tot.tw, tot.nd,
                            (1000 * w) // tw AS base, (1000 * w) % tw AS rem
                     FROM sw CROSS JOIN tot),
              ex AS (SELECT 1000 - CAST(sum(base) AS BIGINT) AS extra FROM q0),
              rk AS (SELECT q0.*, ex.extra,
                            row_number() OVER (ORDER BY rem DESC, lang) AS rk
                     FROM q0 CROSS JOIN ex)
         SELECT lang, n_docs,
                CAST(w AS DOUBLE) / 1000000.0 AS weight,
                CAST(base + (CASE WHEN rk <= extra THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_alloc,
                CAST(((base + (CASE WHEN rk <= extra THEN 1 ELSE 0 END))
                      * nd * 1000000) // (1000 * n_docs) AS DOUBLE) / 1000000.0
                  AS boost
         FROM rk ORDER BY lang""",

    // scoredDocsCte's q/gk/content_hash reused; ntile over the same
    // (rounded q, doc_id) total order
    "q180_quality_calibration" ->
      s"""WITH $scoredDocsCte,
              ke AS (SELECT content_hash, min(doc_id) AS keep_id
                     FROM scored GROUP BY content_hash),
              b AS (SELECT s.doc_id, round(s.q, 6) AS q, s.gk,
                           CASE WHEN s.doc_id != ke.keep_id THEN 1 ELSE 0 END AS is_dup,
                           ntile(10) OVER (ORDER BY round(s.q, 6), s.doc_id) AS decile
                    FROM scored s JOIN ke USING (content_hash))
         SELECT CAST(decile AS INT) AS decile, CAST(count(*) AS BIGINT) AS n_docs,
                min(q) AS q_min, max(q) AS q_max,
                CAST((sum(gk) * 1000000) // count(*) AS DOUBLE) / 1000000.0 AS gopher_rate,
                CAST((sum(is_dup) * 1000000) // count(*) AS DOUBLE) / 1000000.0 AS dup_rate
         FROM b GROUP BY decile ORDER BY decile""",

    // Mann-Whitney AUC counted combinatorially over the distinct-score
    // histogram; HUGEINT mirrors Spark's DECIMAL(38,0) pair products
    "q181_quality_auc" ->
      s"""WITH $scoredDocsCte,
              h AS (SELECT source, round(q, 6) AS qr,
                           CAST(sum(gk) AS BIGINT) AS p,
                           CAST(count(*) - sum(gk) AS BIGINT) AS nneg
                    FROM scored GROUP BY 1, 2),
              c AS (SELECT source, p, nneg,
                           coalesce(sum(nneg) OVER (PARTITION BY source ORDER BY qr
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_less
                    FROM h),
              a AS (SELECT source, CAST(sum(p) AS BIGINT) AS n_pos,
                           CAST(sum(nneg) AS BIGINT) AS n_neg,
                           sum(CAST(p AS HUGEINT) * (2 * n_less + nneg)) AS num2
                    FROM c GROUP BY source)
         SELECT source, n_pos, n_neg,
                CAST((num2 * 1000000) // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS DOUBLE)
                  / 1000000.0 AS auc
         FROM a WHERE n_pos > 0 AND n_neg > 0 ORDER BY source""",

    // q26's candidate/verify CTEs + a full Levenshtein on the survivors
    // (the oracle has no banded cap, so it filters dist <= 256 instead)
    "q182_edit_verified_pairs" ->
      s"""WITH $minhashPairsCte,
              pr AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
              e AS (SELECT doc_a, doc_b,
                           CAST(levenshtein(x.text, y.text) AS INT) AS dist,
                           greatest(length(x.text), length(y.text)) AS mxlen
                    FROM pr JOIN documents x ON doc_a = x.doc_id
                            JOIN documents y ON doc_b = y.doc_id)
         SELECT doc_a, doc_b, dist,
                CAST((dist * 1000000) // mxlen AS DOUBLE) / 1000000.0 AS rel_dist
         FROM e WHERE dist <= 256 AND (dist * 1000000) // mxlen <= 200000
         ORDER BY doc_a, doc_b""",

    // q174's rational estimate trained on the %97 split; per-bigram cost
    // round(ln(den/num), 6) into DECIMAL (exact sum), one div at emit
    "q183_kn_perplexity" ->
      s"""WITH tk AS (SELECT doc_id,
                             string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
                      FROM documents),
              bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                            i -> t[i] || ' ' || t[i+1])) AS bigram
                     FROM tk),
              bc AS (SELECT split_part(bigram, ' ', 1) AS w1,
                            split_part(bigram, ' ', 2) AS w2, bigram,
                            CAST(count(*) AS BIGINT) AS c
                     FROM bg WHERE doc_id % 97 = 0 GROUP BY 1, 2, 3),
              cx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS ctx,
                            CAST(count(*) AS BIGINT) AS n1p
                     FROM bc GROUP BY w1),
              ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncont
                     FROM bc GROUP BY w2),
              nt AS (SELECT CAST(count(*) AS BIGINT) AS ntypes FROM bc),
              bt AS (SELECT doc_id, bigram,
                            split_part(bigram, ' ', 1) AS w1,
                            split_part(bigram, ' ', 2) AS w2,
                            CAST(count(*) AS BIGINT) AS tf
                     FROM bg WHERE doc_id % 97 != 0 GROUP BY 1, 2, 3, 4),
              sc AS (SELECT bt.doc_id, bt.tf, bc.c,
                            greatest(CASE WHEN cx.w1 IS NOT NULL
                              THEN greatest(coalesce(bc.c, 0) * 4 - 3, 0) * ntypes
                                   + 3 * cx.n1p * coalesce(ct.ncont, 0)
                              ELSE coalesce(ct.ncont, 0) END, 1) AS num,
                            CASE WHEN cx.w1 IS NOT NULL
                              THEN 4 * cx.ctx * ntypes ELSE ntypes END AS den
                     FROM bt LEFT JOIN bc USING (bigram)
                             LEFT JOIN cx ON bt.w1 = cx.w1
                             LEFT JOIN ct ON bt.w2 = ct.w2
                             CROSS JOIN nt),
              d AS (SELECT doc_id,
                           sum(CAST(round(ln(den * 1.0 / num), 6)
                                    AS DECIMAL(18,6)) * tf) AS sdec,
                           CAST(sum(tf) AS BIGINT) AS n_bigrams,
                           CAST(sum(CASE WHEN c IS NULL THEN tf ELSE 0 END)
                                AS BIGINT) AS n_oov
                    FROM sc GROUP BY doc_id)
         SELECT doc_id, n_bigrams, n_oov,
                CAST(CAST(sdec * 1000000 AS BIGINT) // n_bigrams AS DOUBLE)
                  / 1000000.0 AS avg_cost
         FROM d ORDER BY doc_id""",

    // q46's md5 split x source; the truncating e/contrib integer recipe
    // IS the statistic (HUGEINT mirrors DECIMAL(38,0))
    "q184_chi2_split_balance" ->
      """WITH cells AS (SELECT CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '0d' THEN 'test'
                                    WHEN md5(CAST(doc_id AS VARCHAR)) < '1a' THEN 'val'
                                    ELSE 'train' END AS split,
                               source, CAST(count(*) AS BIGINT) AS o
                        FROM documents GROUP BY 1, 2),
              ns AS (SELECT split, CAST(sum(o) AS BIGINT) AS ns FROM cells GROUP BY split),
              nc AS (SELECT source, CAST(sum(o) AS BIGINT) AS nc FROM cells GROUP BY source),
              nt AS (SELECT CAST(sum(o) AS BIGINT) AS n_total FROM cells),
              x AS (SELECT split, source, o,
                           CAST((CAST(ns AS HUGEINT) * nc * 1000000) // n_total AS BIGINT) AS em
                    FROM cells JOIN ns USING (split) JOIN nc USING (source) CROSS JOIN nt),
              y AS (SELECT split, source, o, em, o * 1000000 - em AS diffm FROM x)
         SELECT split, source, o AS n_obs,
                CAST(em AS DOUBLE) / 1000000.0 AS expected,
                CAST(CAST((CAST(diffm AS HUGEINT) * diffm) // em AS BIGINT) AS DOUBLE)
                  / 1000000.0 AS contrib
         FROM y ORDER BY split, source""",

    // per-dim integer stats over the floor(v*1024) bridge; zero-variance
    // dims drop out exactly; truncating z^2 recipe mirrored
    "q185_embedding_outliers" ->
      """WITH u AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024.0) AS BIGINT) AS vq
                    FROM embeddings),
              st AS (SELECT pos, CAST(count(*) AS BIGINT) AS n,
                            CAST(sum(vq) AS BIGINT) AS s,
                            CAST(sum(vq * vq) AS BIGINT) AS qq
                     FROM u GROUP BY pos),
              sc AS (SELECT vec_id,
                            CAST(sum(CAST((CAST(n * vq - s AS HUGEINT) * (n * vq - s) * 1000000)
                                  // (CAST(n AS HUGEINT) * qq - CAST(s AS HUGEINT) * s)
                                  AS BIGINT)) AS BIGINT) AS m2_micro,
                            CAST(count(*) AS BIGINT) AS n_dims
                     FROM u JOIN st USING (pos)
                     WHERE CAST(n AS HUGEINT) * qq - CAST(s AS HUGEINT) * s > 0
                     GROUP BY vec_id)
         SELECT vec_id, n_dims, CAST(m2_micro AS DOUBLE) / 1000000.0 AS mahal2
         FROM sc ORDER BY m2_micro DESC, vec_id LIMIT 20""",

    // rank sums regrouped from the length histogram: docs at length L
    // with count c occupy ranks r_prev+1..r_prev+c
    "q186_token_gini" ->
      """WITH hist AS (SELECT source,
                              CAST(len(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS BIGINT) AS len,
                              CAST(count(*) AS BIGINT) AS c
                       FROM documents GROUP BY 1, 2),
              cum AS (SELECT source, len, c,
                             coalesce(sum(c) OVER (PARTITION BY source ORDER BY len
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r_prev
                      FROM hist),
              g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
                           CAST(sum(len * c) AS BIGINT) AS n_tokens,
                           sum(CAST(len AS HUGEINT) *
                               (2 * CAST(c AS HUGEINT) * r_prev + CAST(c AS HUGEINT) * (c + 1))) AS two_ix
                    FROM cum GROUP BY source)
         SELECT source, n_docs, n_tokens,
                CAST(CAST(((two_ix - CAST(n_docs + 1 AS HUGEINT) * n_tokens) * 1000000)
                     // (CAST(n_docs AS HUGEINT) * n_tokens) AS BIGINT) AS DOUBLE)
                  / 1000000.0 AS gini
         FROM g WHERE n_tokens > 0 ORDER BY source""",

    // q122's histogram CTEs + Smirnov tail in log space + BH step-up on
    // round-6 compares; t_micro exact over HUGEINT
    "q188_ks_fdr" ->
      s"""WITH n0 AS (SELECT source,
                             CAST(len(regexp_extract_all(text, '$bpePatternSql')) AS BIGINT) AS n
                      FROM documents),
              c AS (SELECT source, n, CAST(count(*) AS BIGINT) AS c FROM n0
                    GROUP BY source, n),
              sp AS (SELECT n, sum(c) AS cg FROM c GROUP BY n),
              sp2 AS (SELECT n, sum(cg) OVER (ORDER BY n) AS gcum,
                             (SELECT CAST(sum(c) AS BIGINT) FROM c) AS gtot
                      FROM sp),
              src AS (SELECT DISTINCT source FROM c),
              grid AS (SELECT source, n, gcum, gtot,
                              coalesce(sum(c.c) OVER (PARTITION BY source ORDER BY n), 0) AS cum
                       FROM src CROSS JOIN sp2 LEFT JOIN c USING (source, n)),
              tt AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY source),
              df AS (SELECT g.source, tot, gtot,
                            abs((cum * 1000000) // tot
                                - ((gcum - cum) * 1000000) // (gtot - tot)) AS diff
                     FROM grid g JOIN tt USING (source)),
              mx AS (SELECT source, CAST(max(diff) AS BIGINT) AS ksq,
                            max(tot) AS tot, max(gtot) AS gtot
                     FROM df GROUP BY source),
              kk AS (SELECT CAST(count(*) AS BIGINT) AS kk FROM mx),
              sc AS (SELECT source, ksq, tot, gtot,
                            CAST((2 * CAST(tot AS HUGEINT) * (gtot - tot) * ksq * ksq)
                                 // (CAST(gtot AS HUGEINT) * 1000000) AS BIGINT) AS t_micro
                     FROM mx),
              r AS (SELECT source, ksq, t_micro, kk,
                           ln(2.0) - CAST(t_micro AS DOUBLE) / 1000000.0 AS lnp,
                           CAST(row_number() OVER (ORDER BY t_micro DESC, source) AS INT) AS rnk
                    FROM sc CROSS JOIN kk),
              cnd AS (SELECT *, CASE WHEN round(lnp, 6) <=
                               round(ln(CAST(rnk AS DOUBLE)) + ln(0.05)
                                     - ln(CAST(kk AS DOUBLE)), 6)
                             THEN rnk ELSE 0 END AS crnk
                      FROM r),
              km AS (SELECT max(crnk) AS kmax FROM cnd)
         SELECT source, CAST(ksq AS DOUBLE) / 1000000.0 AS ks,
                round(lnp / ln(10.0), 6) AS log10_p, rnk,
                CAST(CASE WHEN rnk <= kmax THEN 1 ELSE 0 END AS INT) AS rejected
         FROM cnd CROSS JOIN km ORDER BY source""",

    // the 3-layer DP unrolled: per-b argmin via row_number(tot, a),
    // backtrace by joining stored prev pointers; sse recipe shared
    "q189_jenks_breaks" ->
      """WITH n0 AS (SELECT CAST(len(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS BIGINT) AS len
                     FROM documents),
              h AS (SELECT len, CAST(count(*) AS BIGINT) AS c FROM n0 GROUP BY len),
              ix AS (SELECT len, c, CAST(row_number() OVER (ORDER BY len) AS INT) AS i FROM h),
              pre0 AS (SELECT i, len,
                              CAST(sum(c) OVER w AS HUGEINT) AS cc,
                              CAST(sum(len * c) OVER w AS HUGEINT) AS ss,
                              CAST(sum(len * len * c) OVER w AS HUGEINT) AS qq
                       FROM ix WINDOW w AS (ORDER BY len
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              pre AS (SELECT CAST(0 AS INT) AS i, CAST(0 AS BIGINT) AS len,
                             CAST(0 AS HUGEINT) AS cc, CAST(0 AS HUGEINT) AS ss,
                             CAST(0 AS HUGEINT) AS qq
                      UNION ALL SELECT * FROM pre0),
              cost AS (SELECT a.i AS a, b.i AS b,
                              (((b.qq - a.qq) * (b.cc - a.cc)
                                - (b.ss - a.ss) * (b.ss - a.ss)) * 1000000)
                                // (b.cc - a.cc) AS sse
                       FROM pre a JOIN pre b ON a.i < b.i),
              d1 AS (SELECT b, sse AS tot FROM cost WHERE a = 0),
              d2 AS (SELECT b, tot, prev FROM (
                       SELECT c2.b, d1.tot + c2.sse AS tot, c2.a AS prev,
                              row_number() OVER (PARTITION BY c2.b
                                ORDER BY d1.tot + c2.sse, c2.a) AS rn
                       FROM d1 JOIN cost c2 ON c2.a = d1.b) t WHERE rn = 1),
              d3 AS (SELECT b, tot, prev FROM (
                       SELECT c3.b, d2.tot + c3.sse AS tot, c3.a AS prev,
                              row_number() OVER (PARTITION BY c3.b
                                ORDER BY d2.tot + c3.sse, c3.a) AS rn
                       FROM d2 JOIN cost c3 ON c3.a = d2.b) t WHERE rn = 1),
              mm AS (SELECT max(i) AS m FROM pre),
              d4 AS (SELECT prev FROM (
                       SELECT c4.a AS prev,
                              row_number() OVER (ORDER BY d3.tot + c4.sse, c4.a) AS rn
                       FROM d3 JOIN cost c4 ON c4.a = d3.b
                                JOIN mm ON c4.b = mm.m) t WHERE rn = 1),
              bt AS (SELECT d2.prev AS a1, d3.prev AS a2, d4.prev AS a3, mm.m
                     FROM d4 JOIN d3 ON d3.b = d4.prev
                             JOIN d2 ON d2.b = d3.prev CROSS JOIN mm),
              bounds AS (SELECT 1 AS bucket, 0 AS lo_i, a1 AS hi_i FROM bt
                         UNION ALL SELECT 2, a1, a2 FROM bt
                         UNION ALL SELECT 3, a2, a3 FROM bt
                         UNION ALL SELECT 4, a3, m FROM bt)
         SELECT CAST(bucket AS INT) AS bucket,
                lo.len AS lo_len, hi.len AS hi_len,
                CAST(phi.cc - plo.cc AS BIGINT) AS n_docs,
                CAST(phi.ss - plo.ss AS BIGINT) AS n_tokens,
                CAST(co.sse AS DOUBLE) / 1000000.0 AS sse
         FROM bounds
           JOIN pre plo ON plo.i = lo_i
           JOIN pre phi ON phi.i = hi_i
           JOIN pre lo ON lo.i = lo_i + 1
           JOIN pre hi ON hi.i = hi_i
           JOIN cost co ON co.a = lo_i AND co.b = hi_i
         ORDER BY bucket""",

    // exact integer microsecond gaps; CV^2 = (n*Q - S^2)/S^2, one
    // truncating HUGEINT division
    "q190_interarrival_cv" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
                    FROM events),
              g AS (SELECT event_type,
                           us - lag(us) OVER (PARTITION BY user_id, event_type
                                              ORDER BY us, event_id) AS gap
                    FROM e),
              a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
                           CAST(sum(gap) AS BIGINT) AS sgap,
                           sum(CAST(gap AS HUGEINT) * gap) AS qgap
                    FROM g WHERE gap IS NOT NULL GROUP BY event_type)
         SELECT event_type, n_gaps,
                CAST(sgap // n_gaps AS BIGINT) AS mean_gap_us,
                CAST(CAST(((CAST(n_gaps AS HUGEINT) * qgap - CAST(sgap AS HUGEINT) * sgap)
                      * 1000000) // (CAST(sgap AS HUGEINT) * sgap) AS BIGINT) AS DOUBLE)
                  / 1000000.0 AS cv2
         FROM a WHERE sgap > 0 ORDER BY event_type""",

    // scoredDocsCte's q micro-scaled once (floor(q*1e6+0.5), the q139
    // idiom); md5(doc_id#b) membership; ceil-index order statistics
    "q191_bootstrap_ci" ->
      s"""WITH $scoredDocsCte,
              dq AS (SELECT source, doc_id,
                            CAST(floor(q * 1000000.0 + 0.5) AS BIGINT) AS qm
                     FROM scored),
              bs AS (SELECT CAST(unnest(range(64)) AS INT) AS b),
              mem AS (SELECT source, b, qm FROM dq CROSS JOIN bs
                      WHERE md5(CAST(doc_id AS VARCHAR) || '#' || CAST(b AS VARCHAR)) < 'cc'),
              mn AS (SELECT source, b,
                            CAST(sum(qm) // count(*) AS BIGINT) AS mean_b
                     FROM mem GROUP BY source, b),
              rk AS (SELECT source, mean_b,
                            count(*) OVER (PARTITION BY source) AS nb,
                            row_number() OVER (PARTITION BY source
                              ORDER BY mean_b, b) AS rn
                     FROM mn),
              ci AS (SELECT source,
                            max(CASE WHEN rn = (nb * 25 + 999) // 1000
                                THEN mean_b END) AS lo_m,
                            max(CASE WHEN rn = (nb * 975 + 999) // 1000
                                THEN mean_b END) AS hi_m
                     FROM rk GROUP BY source),
              fl AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(sum(qm) // count(*) AS BIGINT) AS mean_m
                     FROM dq GROUP BY source)
         SELECT source, n_docs,
                CAST(mean_m AS DOUBLE) / 1000000.0 AS mean_q,
                CAST(lo_m AS DOUBLE) / 1000000.0 AS ci_lo,
                CAST(hi_m AS DOUBLE) / 1000000.0 AS ci_hi
         FROM fl JOIN ci USING (source) ORDER BY source""",

    // kmeansCtes + q173's assignment + q172's exact top-4, swept over
    // the probe depths; all distances integer, ties (d2, id)
    "q192_nprobe_sweep" ->
      s"""WITH ${kmeansCtes(8, 3)},
              dA AS (SELECT u.vec_id, c.cid,
                            CAST(sum((u.vq - c.cq) * (u.vq - c.cq)) AS BIGINT) AS dist
                     FROM u JOIN c3 c ON u.pos = c.pos
                     GROUP BY u.vec_id, c.cid),
              aA AS (SELECT vec_id, cid FROM (
                       SELECT vec_id, cid,
                              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                       FROM dA) t WHERE rn = 1),
              qd AS (SELECT vec_id AS qid, cid, dist AS dq FROM dA WHERE vec_id < 8),
              pr AS (SELECT qid, cid,
                            CAST(row_number() OVER (PARTITION BY qid ORDER BY dq, cid) AS INT) AS cellrank
                     FROM qd),
              np AS (SELECT CAST(unnest([1, 2, 4]) AS INT) AS nprobe),
              cnd AS (SELECT nprobe, qid, a.vec_id AS vid
                      FROM pr JOIN np ON pr.cellrank <= np.nprobe
                              JOIN aA a ON a.cid = pr.cid
                      WHERE a.vec_id != qid),
              cd AS (SELECT c.nprobe, c.qid, c.vid,
                            CAST(sum((uq.vq - uc.vq) * (uq.vq - uc.vq)) AS BIGINT) AS d2
                     FROM cnd c JOIN u uq ON uq.vec_id = c.qid
                                JOIN u uc ON uc.vec_id = c.vid AND uc.pos = uq.pos
                     GROUP BY c.nprobe, c.qid, c.vid),
              pt AS (SELECT nprobe, qid, vid FROM (
                       SELECT nprobe, qid, vid,
                              row_number() OVER (PARTITION BY nprobe, qid
                                ORDER BY d2, vid) AS rk
                       FROM cd) t WHERE rk <= 4),
              exd AS (SELECT ua.vec_id AS qid, ub.vec_id AS vid,
                             CAST(sum((ua.vq - ub.vq) * (ua.vq - ub.vq)) AS BIGINT) AS d2
                      FROM u ua JOIN u ub
                        ON ub.pos = ua.pos AND ub.vec_id != ua.vec_id
                      WHERE ua.vec_id < 8
                      GROUP BY ua.vec_id, ub.vec_id),
              ex4 AS (SELECT qid, vid FROM (
                        SELECT qid, vid,
                               row_number() OVER (PARTITION BY qid ORDER BY d2, vid) AS rk
                        FROM exd) t WHERE rk <= 4),
              grid AS (SELECT nprobe, qid FROM np CROSS JOIN
                         (SELECT DISTINCT vec_id AS qid FROM u WHERE vec_id < 8) qq),
              hits AS (SELECT g.nprobe, g.qid, CAST(count(h.vid) AS BIGINT) AS n_hits
                       FROM grid g LEFT JOIN
                         (SELECT pt.nprobe, pt.qid, pt.vid
                          FROM pt JOIN ex4 USING (qid, vid)) h
                         ON h.nprobe = g.nprobe AND h.qid = g.qid
                       GROUP BY g.nprobe, g.qid)
         SELECT nprobe, qid AS vec_id, n_hits,
                CAST((n_hits * 1000000) // 4 AS DOUBLE) / 1000000.0 AS recall
         FROM hits ORDER BY nprobe, vec_id""",

    // q135's char split + the q174 pair construction; every log2 a
    // ratio of exact integers, terms summed as DECIMAL
    "q193_char_entropy_rate" ->
      """WITH cs AS (SELECT source, string_split_regex(text, '') AS t FROM documents),
              pp AS (SELECT source, unnest(list_transform(range(1, len(t)),
                            i -> t[i] || t[i+1])) AS pair
                     FROM cs),
              pr AS (SELECT source, pair, CAST(count(*) AS BIGINT) AS n12
                     FROM pp WHERE length(pair) = 2 GROUP BY source, pair),
              cx AS (SELECT source, substr(pair, 1, 1) AS c1,
                            CAST(sum(n12) AS BIGINT) AS n1
                     FROM pr GROUP BY source, c1),
              tt AS (SELECT source, CAST(sum(n12) AS BIGINT) AS np
                     FROM pr GROUP BY source),
              tm AS (SELECT pr.source, n12, np,
                            CAST(round((n12 * 1.0 / np) * log2(n1 * 1.0 / n12), 6)
                                 AS DECIMAL(18,6)) AS term
                     FROM pr JOIN cx ON pr.source = cx.source
                                    AND substr(pr.pair, 1, 1) = cx.c1
                             JOIN tt ON pr.source = tt.source)
         SELECT source, max(np) AS n_pairs,
                CAST(count(*) AS BIGINT) AS n_pair_types,
                CAST(round(sum(term), 6) AS DOUBLE) AS entropy_rate
         FROM tm GROUP BY source ORDER BY source""",

    // scored's q/gk histogram + cumulative split counts; the SAME
    // binEntropySql fragment interpolated into both engines
    "q194_quality_stump" ->
      s"""WITH $scoredDocsCte,
              h AS (SELECT round(q, 6) AS q, CAST(sum(gk) AS BIGINT) AS p,
                           CAST(count(*) AS BIGINT) AS m
                    FROM scored GROUP BY 1),
              cum AS (SELECT q, p, m,
                             sum(p) OVER (ORDER BY q
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
                             sum(m) OVER (ORDER BY q
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
                      FROM h),
              tt AS (SELECT CAST(sum(p) AS BIGINT) AS pp,
                            CAST(sum(m) AS BIGINT) AS nn FROM h),
              ig AS (SELECT q, cp, cn, pp, nn,
                            round(${Queries.binEntropySql("pp", "nn")}
                                  - (cn*1.0/nn) * ${Queries.binEntropySql("cp", "cn")}
                                  - ((nn-cn)*1.0/nn) * ${Queries.binEntropySql("(pp-cp)", "(nn-cn)")}, 6) AS ig
                     FROM cum CROSS JOIN tt WHERE cn < nn),
              rk AS (SELECT *, CAST(row_number() OVER (ORDER BY ig DESC, q) AS INT) AS rank
                     FROM ig)
         SELECT rank, q AS threshold,
                CAST(cn AS BIGINT) AS n_left, CAST(cp AS BIGINT) AS pos_left,
                CAST(nn - cn AS BIGINT) AS n_right,
                CAST(pp - cp AS BIGINT) AS pos_right, ig
         FROM rk WHERE rank <= 5 ORDER BY rank""",

    // 20 HUGEINT power rounds unrolled (per-edge truncating division
    // then sum-normalize), mirroring the driver BigInt loop exactly
    "q195_markov_stationary" -> {
      def round(k: Int): String = {
        val prev = if (k == 1) "x0" else s"x${k - 1}"
        s"""y$k AS (SELECT tm.next AS et, sum((x.xs * tm.cnt) // tm.ntot) AS ys
                    FROM tm JOIN $prev x ON x.et = tm.prev GROUP BY tm.next),
              t$k AS (SELECT sum(ys) AS tt FROM y$k),
              x$k AS MATERIALIZED (
                    SELECT et, (ys * 1000000) // tt AS xs
                    FROM y$k CROSS JOIN t$k)"""
      }
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
                     FROM events),
              pr AS (SELECT event_type AS prev,
                            lead(event_type) OVER (PARTITION BY user_id
                                                   ORDER BY us, event_id) AS next
                     FROM e),
              tc AS (SELECT prev, next, CAST(count(*) AS BIGINT) AS cnt
                     FROM pr WHERE next IS NOT NULL GROUP BY prev, next),
              no AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS ntot FROM tc GROUP BY prev),
              tm AS (SELECT tc.prev, tc.next, CAST(cnt AS HUGEINT) AS cnt,
                            CAST(ntot AS HUGEINT) AS ntot
                     FROM tc JOIN no USING (prev)),
              ty AS (SELECT DISTINCT et FROM
                       (SELECT prev AS et FROM tc UNION SELECT next FROM tc) u0),
              kk AS (SELECT CAST(count(*) AS HUGEINT) AS k FROM ty),
              x0 AS (SELECT et, CAST(1000000 AS HUGEINT) // k AS xs
                     FROM ty CROSS JOIN kk),
              ${(1 to 20).map(round).mkString(",\n              ")},
              ni AS (SELECT next AS et, CAST(sum(cnt) AS BIGINT) AS n_in
                     FROM tc GROUP BY next),
              no2 AS (SELECT prev AS et, CAST(sum(cnt) AS BIGINT) AS n_out
                      FROM tc GROUP BY prev),
              ttt AS (SELECT CAST(sum(cnt) AS HUGEINT) AS tot FROM tc)
         SELECT ty.et AS event_type,
                coalesce(no2.n_out, 0) AS n_out,
                coalesce(ni.n_in, 0) AS n_in,
                CAST(coalesce(x20.xs, 0) AS DOUBLE) / 1000000.0 AS stationary,
                CAST((CAST(coalesce(ni.n_in, 0) AS HUGEINT) * 1000000) // tot AS DOUBLE)
                  / 1000000.0 AS empirical
         FROM ty LEFT JOIN x20 ON ty.et = x20.et
                 LEFT JOIN no2 ON ty.et = no2.et
                 LEFT JOIN ni ON ty.et = ni.et
                 CROSS JOIN ttt
         ORDER BY event_type"""
    },

    // q50's sessionization + distinct type sets; PMI over exact counts
    // with the double casts written identically both engines
    "q201_session_type_pmi" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
                    FROM events),
              g AS (SELECT user_id, event_type, us, event_id,
                           CASE WHEN lag(us) OVER w IS NULL
                                  OR us - lag(us) OVER w > 43200000000 THEN 1 ELSE 0 END AS new_s
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
              se AS (SELECT user_id, event_type,
                            sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
                     FROM g),
              st AS (SELECT DISTINCT user_id, session_id, event_type FROM se),
              ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM
                       (SELECT DISTINCT user_id, session_id FROM st) s0),
              nt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
                     FROM st GROUP BY event_type),
              pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                            CAST(count(*) AS BIGINT) AS n_ab
                     FROM st a JOIN st b
                       ON a.user_id = b.user_id AND a.session_id = b.session_id
                      AND a.event_type < b.event_type
                     GROUP BY 1, 2)
         SELECT type_a, type_b, n_ab, na.n_t AS n_a, nb.n_t AS n_b,
                round(ln((CAST(n_ab AS DOUBLE) * n_sessions)
                         / (CAST(na.n_t AS DOUBLE) * nb.n_t)), 6) AS pmi
         FROM pr JOIN nt na ON pr.type_a = na.event_type
                 JOIN nt nb ON pr.type_b = nb.event_type
                 CROSS JOIN ns
         WHERE n_ab >= 5 ORDER BY type_a, type_b""",

    // identical truncating integer recipes — word/sentence/syllable
    // counts exact both engines, every division // on nonnegatives
    "q202_readability" ->
      """WITH dd AS (SELECT source,
                CAST(len(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS BIGINT) AS w,
                CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sn,
                CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS y
              FROM documents),
              ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(sum(w) AS BIGINT) AS n_words,
                            CAST(sum(sn) AS BIGINT) AS n_sentences,
                            CAST(sum(y) AS BIGINT) AS n_syllables
                     FROM dd GROUP BY source)
         SELECT source, n_docs, n_words, n_sentences, n_syllables,
                CAST(CAST((CAST(n_words AS HUGEINT) * 390000) // n_sentences +
                     (CAST(n_syllables AS HUGEINT) * 11800000) // n_words
                     - 15590000 AS BIGINT) AS DOUBLE) / 1000000.0 AS fk_grade,
                CAST(CAST(206835000 - (CAST(n_words AS HUGEINT) * 1015000) // n_sentences -
                     (CAST(n_syllables AS HUGEINT) * 84600000) // n_words
                     AS BIGINT) AS DOUBLE) / 1000000.0 AS reading_ease
         FROM ag WHERE n_words > 0 ORDER BY source""",

    // histogram average ranks (2*r_prev + c + 1), centered by the exact
    // mean n+1 so no n*S product; one identical double expression
    "q203_spearman_rank" ->
      s"""WITH $scoredDocsCte,
              dd AS (SELECT source, doc_id,
                            CAST(floor(q * 1000000.0 + 0.5) AS BIGINT) AS qm,
                            CAST(toks AS BIGINT) AS len FROM scored),
              ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM dd GROUP BY source),
              hx AS (SELECT source, qm, CAST(count(*) AS BIGINT) AS c FROM dd GROUP BY 1, 2),
              rx AS (SELECT source, qm,
                            2 * COALESCE(sum(c) OVER (PARTITION BY source ORDER BY qm
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2x
                     FROM hx),
              hy AS (SELECT source, len, CAST(count(*) AS BIGINT) AS c FROM dd GROUP BY 1, 2),
              ry AS (SELECT source, len,
                            2 * COALESCE(sum(c) OVER (PARTITION BY source ORDER BY len
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2y
                     FROM hy),
              ce AS (SELECT d.source, ns.n,
                            rx.r2x - ns.n - 1 AS cx, ry.r2y - ns.n - 1 AS cy
                     FROM dd d JOIN rx ON d.source = rx.source AND d.qm = rx.qm
                               JOIN ry ON d.source = ry.source AND d.len = ry.len
                               JOIN ns ON d.source = ns.source),
              ag AS (SELECT source, n,
                            sum(CAST(cx AS HUGEINT) * cy) AS sxy,
                            sum(CAST(cx AS HUGEINT) * cx) AS sxx,
                            sum(CAST(cy AS HUGEINT) * cy) AS syy
                     FROM ce GROUP BY source, n)
         SELECT source, n,
                round(CAST(sxy AS DOUBLE) /
                      sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6) AS rho
         FROM ag WHERE sxx > 0 AND syy > 0 ORDER BY source""",

    // centered 7-day MA + sign-split weekday means over the day
    // aggregate; isodow-1 == Spark's weekday (0 = Monday)
    "q204_seasonal_volume" ->
      """WITH dv AS (SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS v
                     FROM events GROUP BY 1),
              tr AS (SELECT day, v,
                            count(*) OVER w7 AS n7,
                            sum(v) OVER w7 AS s7,
                            isodow(CAST(day AS DATE)) - 1 AS wd
                     FROM dv WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
              de AS (SELECT day, v, wd,
                            CASE WHEN n7 = 7 THEN
                              CAST((CAST(s7 AS HUGEINT) * 1000000) // 7 AS BIGINT) END AS trend_micro
                     FROM tr),
              d2 AS (SELECT *, CAST(CAST(v AS HUGEINT) * 1000000 AS BIGINT) - trend_micro AS det_micro
                     FROM de),
              se AS (SELECT wd, CAST(sum(det_micro) AS HUGEINT) AS sd,
                            CAST(count(*) AS BIGINT) AS nd
                     FROM d2 WHERE det_micro IS NOT NULL GROUP BY wd),
              sm AS (SELECT wd, CAST(CASE WHEN sd < 0 THEN -((-sd) // nd)
                                          ELSE sd // nd END AS BIGINT) AS seasonal_micro
                     FROM se)
         SELECT day, v,
                CAST(trend_micro AS DOUBLE) / 1000000.0 AS trend,
                CAST(seasonal_micro AS DOUBLE) / 1000000.0 AS seasonal,
                CAST(det_micro - seasonal_micro AS DOUBLE) / 1000000.0 AS remainder
         FROM d2 LEFT JOIN sm USING (wd) ORDER BY day""",

    // combinatorial Simpson over the (source, token) histogram; every
    // index a truncating micro division of HUGEINT products
    "q205_lexical_diversity" ->
      """WITH tf AS (SELECT source, unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                     FROM documents),
              h AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c FROM tf GROUP BY 1, 2),
              ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
                            CAST(sum(c) AS BIGINT) AS n_tokens,
                            CAST(max(c) AS BIGINT) AS max_c,
                            sum(CAST(c AS HUGEINT) * (c - 1)) AS rep2
                     FROM h GROUP BY source)
         SELECT source, n_types, n_tokens,
                CAST(CAST((rep2 * 1000000) // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
                     AS BIGINT) AS DOUBLE) / 1000000.0 AS simpson,
                CAST(1000000 - CAST((rep2 * 1000000) // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
                     AS BIGINT) AS DOUBLE) / 1000000.0 AS pie,
                CAST(CAST((CAST(max_c AS HUGEINT) * 1000000) // n_tokens AS BIGINT) AS DOUBLE)
                  / 1000000.0 AS berger_parker,
                CAST(CAST((CAST(n_types AS HUGEINT) * 1000000) // n_tokens AS BIGINT) AS DOUBLE)
                  / 1000000.0 AS ttr
         FROM ag WHERE n_tokens > 1 ORDER BY source""",

    // the q26 pair graph; Newman r over exact HUGEINT degree sums, the
    // zero-variance guard an exact integer comparison
    "q206_dup_assortativity" ->
      s"""WITH $minhashPairsCte,
              p AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
              dg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
                       SELECT doc_a AS id FROM p UNION ALL SELECT doc_b AS id FROM p) u
                     GROUP BY id),
              e AS (SELECT x.deg AS da, y.deg AS db
                    FROM p JOIN dg x ON p.doc_a = x.id JOIN dg y ON p.doc_b = y.id),
              ag AS (SELECT CAST(count(*) AS BIGINT) AS m_edges,
                            sum(CAST(da AS HUGEINT) + db) AS s1,
                            sum(CAST(da AS HUGEINT) * da + CAST(db AS HUGEINT) * db) AS s2,
                            sum(CAST(da AS HUGEINT) * db) AS s3
                     FROM e),
              nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM dg)
         SELECT n_nodes, m_edges,
                CASE WHEN 2 * CAST(m_edges AS HUGEINT) * s2 - s1 * s1 = 0 THEN NULL
                     ELSE round(CAST(4 * CAST(m_edges AS HUGEINT) * s3 - s1 * s1 AS DOUBLE) /
                                CAST(2 * CAST(m_edges AS HUGEINT) * s2 - s1 * s1 AS DOUBLE), 6)
                END AS assortativity
         FROM ag CROSS JOIN nn""",

    // same portable-md5 position draws; fill^k as an exact HUGEINT
    // quartic over 2^64
    "q207_bloom_fpr" ->
      """WITH dh AS (SELECT CAST(substr(source, 4) AS INT) AS sid,
                            ('0x'||substr(md5(text),1,15))::BIGINT AS h
                     FROM documents),
              ins AS (SELECT DISTINCT h FROM dh WHERE sid < 10),
              pr AS (SELECT DISTINCT h FROM dh WHERE sid >= 10
                     AND h NOT IN (SELECT h FROM ins)),
              ii AS (SELECT unnest(range(4)) AS i),
              ip AS (SELECT h, ('0x'||substr(md5(h || '#' || i),1,15))::BIGINT % 65536 AS pos
                     FROM ins CROSS JOIN ii),
              bits AS (SELECT DISTINCT pos FROM ip),
              pp AS (SELECT h, ('0x'||substr(md5(h || '#' || i),1,15))::BIGINT % 65536 AS pos
                     FROM pr CROSS JOIN ii),
              fp AS (SELECT CAST(count(*) AS BIGINT) AS n_false_pos FROM (
                       SELECT pp.h FROM pp JOIN bits USING (pos)
                       GROUP BY pp.h HAVING count(*) = 4) f),
              ni AS (SELECT CAST(count(*) AS BIGINT) AS n_inserted FROM ins),
              np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM pr),
              bs AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bits)
         SELECT n_inserted, n_probes, CAST(65536 AS BIGINT) AS m_bits,
                CAST(4 AS BIGINT) AS k_hashes, bits_set, n_false_pos,
                CASE WHEN n_probes = 0 THEN NULL
                     ELSE CAST(CAST((CAST(n_false_pos AS HUGEINT) * 1000000) // n_probes
                          AS BIGINT) AS DOUBLE) / 1000000.0 END AS measured_fpr,
                CAST(CAST((CAST(bits_set AS HUGEINT) * bits_set * bits_set * bits_set * 1000000)
                     // 18446744073709551616 AS BIGINT) AS DOUBLE) / 1000000.0 AS predicted_fpr
         FROM ni CROSS JOIN np CROSS JOIN bs CROSS JOIN fp""",

    // the driver BigInt recurrence replayed as a RECURSIVE CTE over the
    // day index — single-row frontier, sign-split truncating divisions
    "q208_holt_smoothing" ->
      """WITH RECURSIVE dv AS (
                SELECT day, v, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx
                FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS v
                      FROM events GROUP BY 1) g),
              hw(idx, l, b, fc) AS (
                SELECT idx, CAST(v AS HUGEINT) * 1000000, CAST(0 AS HUGEINT),
                       CAST(NULL AS HUGEINT)
                FROM dv WHERE idx = 1
                UNION ALL
                SELECT idx, nl,
                       CASE WHEN nl - pl + 3 * pb < 0 THEN -((-(nl - pl + 3 * pb)) // 4)
                            ELSE (nl - pl + 3 * pb) // 4 END,
                       fc
                FROM (SELECT d.idx, h.l AS pl, h.b AS pb, h.l + h.b AS fc,
                             CASE WHEN CAST(d.v AS HUGEINT) * 1000000 + h.l + h.b < 0
                                  THEN -((-(CAST(d.v AS HUGEINT) * 1000000 + h.l + h.b)) // 2)
                                  ELSE (CAST(d.v AS HUGEINT) * 1000000 + h.l + h.b) // 2
                             END AS nl
                      FROM dv d JOIN hw h ON d.idx = h.idx + 1) x)
         SELECT dv.day, dv.v,
                CAST(hw.l AS DOUBLE) / 1000000.0 AS level,
                CAST(hw.b AS DOUBLE) / 1000000.0 AS trend,
                CAST(hw.fc AS DOUBLE) / 1000000.0 AS forecast,
                CAST(CAST(dv.v AS HUGEINT) * 1000000 - hw.fc AS DOUBLE) / 1000000.0 AS fc_error
         FROM dv JOIN hw USING (idx) ORDER BY day""",

    // top-50 by one vocabulary rank (the engine TakeOrders); z collapses
    // to (k*f - Sf)/sqrt(k*Qf - Sf^2) — exact integer operands, one
    // identical double expression, re-quantized to 6dp before the
    // order-free pairwise integer sum
    "q209_burrows_delta" ->
      """WITH tf AS (SELECT source, unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                     FROM documents),
              h AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c FROM tf GROUP BY 1, 2),
              tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tok FROM h GROUP BY source),
              gt AS (SELECT token, CAST(sum(c) AS BIGINT) AS gc FROM h GROUP BY token),
              top AS (SELECT token FROM (
                        SELECT token, row_number() OVER (ORDER BY gc DESC, token) AS rn
                        FROM gt) r
                      WHERE rn <= 50),
              f AS (SELECT t.source, p.token,
                           CAST((CAST(coalesce(h.c, 0) AS HUGEINT) * 1000000) // t.n_tok
                                AS BIGINT) AS fm
                    FROM tot t CROSS JOIN top p
                    LEFT JOIN h ON h.source = t.source AND h.token = p.token),
              s0 AS (SELECT token, CAST(count(*) AS BIGINT) AS k,
                            CAST(sum(fm) AS BIGINT) AS sf,
                            sum(CAST(fm AS HUGEINT) * fm) AS qf
                     FROM f GROUP BY token),
              st AS (SELECT * FROM s0
                     WHERE CAST(k AS HUGEINT) * qf - CAST(sf AS HUGEINT) * sf > 0),
              z AS (SELECT f.source, f.token,
                           CAST(round(CAST(CAST(st.k AS HUGEINT) * f.fm - st.sf AS DOUBLE) /
                                sqrt(CAST(CAST(st.k AS HUGEINT) * st.qf -
                                     CAST(st.sf AS HUGEINT) * st.sf AS DOUBLE))
                                * 1000000, 0) AS BIGINT) AS zm
                    FROM f JOIN st ON f.token = st.token),
              ag AS (SELECT a.source AS source_a, b.source AS source_b,
                            CAST(count(*) AS BIGINT) AS n_features,
                            CAST(sum(abs(a.zm - b.zm)) AS BIGINT) AS sad
                     FROM z a JOIN z b ON a.token = b.token AND a.source < b.source
                     GROUP BY 1, 2)
         SELECT source_a, source_b, n_features,
                CAST(sad // n_features AS DOUBLE) / 1000000.0 AS delta
         FROM ag ORDER BY source_a, source_b""",

    // scored's q micro-scaled once; per-group and total micro quotients
    // as HUGEINT //, mirroring the driver's truncating BigInt fold
    "q210_anova_quality" ->
      s"""WITH $scoredDocsCte,
              dd AS (SELECT source, CAST(floor(q * 1000000.0 + 0.5) AS BIGINT) AS qm
                     FROM scored),
              g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(qm) AS BIGINT) AS sq,
                           sum(CAST(qm AS HUGEINT) * qm) AS qq
                    FROM dd GROUP BY source),
              ag AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
                            CAST(sum(n) AS BIGINT) AS n_docs,
                            CAST(sum(sq) AS HUGEINT) AS s_tot,
                            CAST(sum(qq) AS HUGEINT) AS q_tot,
                            sum((CAST(sq AS HUGEINT) * sq * 1000000) // n) AS w_sum
                     FROM g),
              fin AS (SELECT k_groups, n_docs,
                             w_sum - (s_tot * s_tot * 1000000) // n_docs AS ssb_micro,
                             q_tot * 1000000 - w_sum AS ssw_micro
                      FROM ag)
         SELECT k_groups, n_docs,
                CAST(ssb_micro AS DOUBLE) / 1000000.0 AS ssb,
                CAST(ssw_micro AS DOUBLE) / 1000000.0 AS ssw,
                CASE WHEN ssw_micro = 0 OR k_groups <= 1 THEN NULL
                     ELSE round(CAST(ssb_micro * (n_docs - k_groups) AS DOUBLE) /
                                CAST(ssw_micro * (k_groups - 1) AS DOUBLE), 6) END AS f_stat,
                CASE WHEN ssb_micro + ssw_micro = 0 THEN NULL
                     WHEN ssb_micro < 0
                       THEN -(CAST(((-ssb_micro) * 1000000) // (ssb_micro + ssw_micro)
                              AS DOUBLE)) / 1000000.0
                     ELSE CAST((ssb_micro * 1000000) // (ssb_micro + ssw_micro)
                          AS DOUBLE) / 1000000.0 END AS eta2
         FROM fin""",

    // fixed-grid contingency cells (no window), one within-source cell
    // self-join, tie margins, tau-b one identical double expression
    "q211_kendall_tau" ->
      s"""WITH $scoredDocsCte,
              dd AS (SELECT source,
                            least(9, CAST(floor(q * 10.0) AS BIGINT)) AS qb,
                            least(9, CAST(toks AS BIGINT) // 64) AS lb
                     FROM scored),
              cells AS (SELECT source, qb, lb, CAST(count(*) AS BIGINT) AS c
                        FROM dd GROUP BY 1, 2, 3),
              pr AS (SELECT a.source,
                            sum(CASE WHEN a.lb < b.lb THEN CAST(a.c AS HUGEINT) * b.c
                                     ELSE 0 END) AS nc,
                            sum(CASE WHEN a.lb > b.lb THEN CAST(a.c AS HUGEINT) * b.c
                                     ELSE 0 END) AS nd
                     FROM cells a JOIN cells b
                       ON a.source = b.source AND a.qb < b.qb
                     GROUP BY a.source),
              rm AS (SELECT source, sum(CAST(r AS HUGEINT) * (r - 1)) AS tr FROM (
                       SELECT source, qb, CAST(sum(c) AS BIGINT) AS r
                       FROM cells GROUP BY 1, 2) x GROUP BY source),
              cm AS (SELECT source, sum(CAST(cc AS HUGEINT) * (cc - 1)) AS tc FROM (
                       SELECT source, lb, CAST(sum(c) AS BIGINT) AS cc
                       FROM cells GROUP BY 1, 2) y GROUP BY source),
              tt AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY source)
         SELECT tt.source AS source, n,
                CAST(coalesce(pr.nc, 0) AS DOUBLE) AS nc,
                CAST(coalesce(pr.nd, 0) AS DOUBLE) AS nd,
                CASE WHEN CAST(n AS HUGEINT) * (n - 1) - tr = 0
                       OR CAST(n AS HUGEINT) * (n - 1) - tc = 0 THEN NULL
                     ELSE round(CAST(2 * (coalesce(pr.nc, 0) - coalesce(pr.nd, 0)) AS DOUBLE) /
                                sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - tr AS DOUBLE) *
                                     CAST(CAST(n AS HUGEINT) * (n - 1) - tc AS DOUBLE)), 6)
                END AS tau_b
         FROM tt LEFT JOIN pr ON tt.source = pr.source
                 JOIN rm ON tt.source = rm.source
                 JOIN cm ON tt.source = cm.source
         ORDER BY tt.source""",

    // day-pair sign sum + exact integer 18*Var(S) with tie correction;
    // continuity-corrected z one identical double expression
    "q212_mann_kendall" ->
      """WITH dv AS (SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS v
                     FROM events GROUP BY 1),
              sp AS (SELECT CAST(sum(CASE WHEN b.v > a.v THEN 1
                                          WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
                     FROM dv a JOIN dv b ON a.day < b.day),
              nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM dv),
              ti AS (SELECT sum(CAST(tg AS HUGEINT) * (tg - 1) * (2 * tg + 5)) AS tsum FROM (
                       SELECT v, CAST(count(*) AS BIGINT) AS tg FROM dv GROUP BY v) g),
              fin AS (SELECT n_days, s_stat,
                             CAST(n_days AS HUGEINT) * (n_days - 1) * (2 * n_days + 5) - tsum AS var18
                      FROM nn CROSS JOIN sp CROSS JOIN ti)
         SELECT n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
                CASE WHEN var18 = 0 THEN NULL
                     ELSE round((CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                                      WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                                      ELSE 0.0 END) /
                                sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) END AS z
         FROM fin""",

    // n^2-scaled exact deviations; per-lag numerators over the
    // aggregate-sized day relation, LEFT-preserved so every lag emits
    "q213_volume_acf" ->
      """WITH dv AS (SELECT day, v, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx
                     FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS v
                           FROM events GROUP BY 1) g),
              tt AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sv FROM dv),
              de AS (SELECT idx, CAST(n AS HUGEINT) * v - sv AS dv2 FROM dv CROSS JOIN tt),
              den AS (SELECT sum(dv2 * dv2) AS den FROM de),
              ks AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS "lag"),
              pairs AS (SELECT k."lag" AS "lag", a.dv2 AS da, b.dv2 AS db
                        FROM ks k, de a, de b WHERE b.idx = a.idx + k."lag"),
              nums AS (SELECT k."lag" AS "lag", CAST(count(p.da) AS BIGINT) AS n_pairs,
                              sum(p.da * p.db) AS num
                       FROM ks k LEFT JOIN pairs p ON k."lag" = p."lag"
                       GROUP BY 1)
         SELECT "lag", n_pairs,
                CASE WHEN den = 0 THEN NULL
                     ELSE round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS acf
         FROM nums CROSS JOIN den ORDER BY "lag"""",

    // per-edge fan-out aggregated before ONE full-outer key join; all
    // counts exact, mean fan-out a truncating micro division
    "q214_referential_integrity" ->
      """WITH f1 AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS f
                     FROM lineitem GROUP BY 1),
              p1 AS (SELECT o_orderkey AS k, 1 AS in_p FROM orders),
              a1 AS (SELECT 'orders->lineitem' AS relation,
                            CAST(coalesce(sum(in_p), 0) AS BIGINT) AS n_parent,
                            CAST(coalesce(sum(f), 0) AS BIGINT) AS n_child_rows,
                            CAST(coalesce(sum(CASE WHEN in_p IS NULL THEN f END), 0) AS BIGINT)
                              AS n_orphan_child_rows,
                            CAST(coalesce(sum(CASE WHEN in_p IS NOT NULL AND f IS NULL
                                               THEN 1 END), 0) AS BIGINT) AS n_childless_parent,
                            CAST(coalesce(max(CASE WHEN in_p IS NOT NULL
                                               THEN coalesce(f, 0) END), 0) AS BIGINT) AS max_fanout
                     FROM p1 FULL OUTER JOIN f1 USING (k)),
              f2 AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS f
                     FROM orders GROUP BY 1),
              p2 AS (SELECT c_custkey AS k, 1 AS in_p FROM customer),
              a2 AS (SELECT 'customer->orders' AS relation,
                            CAST(coalesce(sum(in_p), 0) AS BIGINT) AS n_parent,
                            CAST(coalesce(sum(f), 0) AS BIGINT) AS n_child_rows,
                            CAST(coalesce(sum(CASE WHEN in_p IS NULL THEN f END), 0) AS BIGINT)
                              AS n_orphan_child_rows,
                            CAST(coalesce(sum(CASE WHEN in_p IS NOT NULL AND f IS NULL
                                               THEN 1 END), 0) AS BIGINT) AS n_childless_parent,
                            CAST(coalesce(max(CASE WHEN in_p IS NOT NULL
                                               THEN coalesce(f, 0) END), 0) AS BIGINT) AS max_fanout
                     FROM p2 FULL OUTER JOIN f2 USING (k))
         SELECT relation, n_parent, n_child_rows, n_orphan_child_rows,
                n_childless_parent, max_fanout,
                CASE WHEN n_parent = 0 THEN NULL
                     ELSE CAST(CAST(((CAST(n_child_rows AS HUGEINT) - n_orphan_child_rows)
                          * 1000000) // n_parent AS BIGINT) AS DOUBLE) / 1000000.0
                END AS mean_fanout
         FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2) u ORDER BY relation""",

    // per-(source, qm) histogram, cdfs cross-multiplied to HUGEINT, sup
    // as an integer max, KS one truncating micro division
    "q215_ks_two_sample" ->
      s"""WITH $scoredDocsCte,
              dd AS (SELECT source, CAST(floor(q * 1000000.0 + 0.5) AS BIGINT) AS qm
                     FROM scored),
              h AS (SELECT source, qm, CAST(count(*) AS BIGINT) AS c
                    FROM dd GROUP BY 1, 2),
              sn AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM h GROUP BY source),
              nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_tot FROM h),
              gc AS (SELECT qm, CAST(sum(c) AS BIGINT) AS cg FROM h GROUP BY qm),
              gcum AS (SELECT qm, CAST(sum(cg) OVER (ORDER BY qm
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gcum
                       FROM gc),
              grid AS (SELECT s.source, s.n_s, g.qm, g.gcum, coalesce(h.c, 0) AS c
                       FROM sn s CROSS JOIN gcum g
                       LEFT JOIN h ON h.source = s.source AND h.qm = g.qm),
              cum AS (SELECT source, n_s, qm, gcum,
                             CAST(sum(c) OVER (PARTITION BY source ORDER BY qm
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS scum
                      FROM grid),
              dx AS (SELECT source, n_s,
                            max(abs(CAST(scum AS HUGEINT) * (n_tot - n_s) -
                                    CAST(gcum - scum AS HUGEINT) * n_s)) AS dmax,
                            max(CAST(n_tot - n_s AS HUGEINT) * n_s) AS den
                     FROM cum CROSS JOIN nt GROUP BY source, n_s)
         SELECT source, n_s AS n_docs,
                CASE WHEN den = 0 THEN NULL
                     ELSE CAST(CAST((dmax * 1000000) // den AS BIGINT) AS DOUBLE) / 1000000.0
                END AS ks
         FROM dx ORDER BY source""",

    // vocab-sized ln sum micro-scaled to integers BEFORE summing (the
    // q149 ln discipline), alpha one identical double expression
    "q216_zipf_mle" ->
      """WITH tf AS (SELECT source, unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                     FROM documents),
              h AS (SELECT source, token, CAST(count(*) AS BIGINT) AS f FROM tf GROUP BY 1, 2),
              ag AS (SELECT source, CAST(count(*) AS BIGINT) AS v_types,
                            CAST(sum(f) AS BIGINT) AS n_tokens,
                            CAST(sum(CAST(round(ln(CAST(f AS DOUBLE)) * 1000000, 0) AS BIGINT))
                              AS BIGINT) AS sl
                     FROM h GROUP BY source)
         SELECT source, v_types, n_tokens,
                CASE WHEN sl = 0 THEN NULL
                     ELSE round(1.0 + CAST(v_types AS DOUBLE) * 1000000.0 / CAST(sl AS DOUBLE), 6)
                END AS alpha
         FROM ag ORDER BY source""",

    // md5-nibble checkpoint grid, token first-bucket min-aggregate,
    // 16-row cumulative windows, log-log slope over DECIMAL sums
    "q217_heaps_law" ->
      """WITH db AS (SELECT doc_id, text,
                            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))::BIGINT AS bucket
                     FROM documents),
              fb AS (SELECT token, CAST(min(bucket) AS BIGINT) AS fb FROM (
                       SELECT bucket, unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                       FROM db) t GROUP BY token),
              nv AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS nv FROM fb GROUP BY fb),
              nd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ndc FROM db GROUP BY bucket),
              pts AS (SELECT nd.bucket,
                             CAST(sum(ndc) OVER w AS BIGINT) AS n_docs_cum,
                             CAST(sum(coalesce(nv, 0)) OVER w AS BIGINT) AS vocab_cum
                      FROM nd LEFT JOIN nv ON nv.bucket = nd.bucket
                      WINDOW w AS (ORDER BY nd.bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              pp AS (SELECT bucket, n_docs_cum, vocab_cum,
                            CAST(round(ln(CAST(n_docs_cum AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x,
                            CAST(round(ln(CAST(vocab_cum AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y
                     FROM pts WHERE n_docs_cum > 0 AND vocab_cum > 0),
              reg AS (SELECT CAST(count(*) AS BIGINT) AS k,
                             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                             sum(CAST(x AS HUGEINT) * y) AS sxy,
                             sum(CAST(x AS HUGEINT) * x) AS sxx
                      FROM pp),
              bt AS (SELECT CASE WHEN CAST(k AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
                                 THEN NULL
                                 ELSE round(CAST(CAST(k AS HUGEINT) * sxy -
                                        CAST(sx AS HUGEINT) * sy AS DOUBLE) /
                                      CAST(CAST(k AS HUGEINT) * sxx -
                                        CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
                            END AS beta
                     FROM reg)
         SELECT bucket, n_docs_cum, vocab_cum, beta
         FROM pp CROSS JOIN bt ORDER BY bucket""",

    // count-of-counts, r+1 attach as a tiny self-join, truncating micro
    // divisions for r* and the missing mass
    "q218_good_turing" ->
      """WITH h AS (SELECT token, CAST(count(*) AS BIGINT) AS f FROM (
                      SELECT unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                      FROM documents) t GROUP BY token),
              cc AS (SELECT f, CAST(count(*) AS BIGINT) AS n_r FROM h GROUP BY f),
              tot AS (SELECT sum(CAST(f AS HUGEINT) * n_r) AS n_tok,
                             CAST(coalesce(sum(CASE WHEN f = 1 THEN n_r END), 0) AS BIGINT) AS n1
                      FROM cc)
         SELECT a.f AS r, a.n_r, CAST(coalesce(b.n_r, 0) AS BIGINT) AS n_r1,
                CAST(CAST(((a.f + 1) * CAST(coalesce(b.n_r, 0) AS HUGEINT) * 1000000)
                     // a.n_r AS BIGINT) AS DOUBLE) / 1000000.0 AS r_star,
                CAST(CAST((CAST(n1 AS HUGEINT) * 1000000) // n_tok AS BIGINT) AS DOUBLE)
                  / 1000000.0 AS p_unseen
         FROM (SELECT * FROM cc ORDER BY f LIMIT 10) a
         LEFT JOIN cc b ON b.f = a.f + 1 CROSS JOIN tot
         ORDER BY r""",

    // exact integer percentile selection for tau over the calibration
    // histogram; coverage a truncating micro division
    "q219_conformal_coverage" ->
      s"""WITH $scoredDocsCte,
              dd AS (SELECT CAST(floor(q * 1000000.0 + 0.5) AS BIGINT) AS qm,
                            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))::BIGINT < 8
                              AS is_cal
                     FROM scored),
              h AS (SELECT qm, is_cal, CAST(count(*) AS BIGINT) AS c FROM dd GROUP BY 1, 2),
              ncal AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_cal
                       FROM h WHERE is_cal),
              cum AS (SELECT qm, CAST(sum(c) OVER (ORDER BY qm
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                      FROM h WHERE is_cal),
              tau AS (SELECT CAST(min(qm) AS BIGINT) AS tau_m
                      FROM cum CROSS JOIN ncal
                      WHERE cum >= (9 * (n_cal + 1) + 9) // 10),
              test AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_test,
                              CAST(coalesce(sum(CASE WHEN qm >= tau_m THEN c END), 0)
                                AS BIGINT) AS n_cov
                       FROM h CROSS JOIN tau WHERE NOT is_cal)
         SELECT n_cal, n_test,
                CAST(tau_m AS DOUBLE) / 1000000.0 AS tau,
                0.9 AS target,
                CASE WHEN n_test = 0 THEN NULL
                     ELSE CAST(CAST((n_cov * 1000000) // n_test AS BIGINT) AS DOUBLE) / 1000000.0
                END AS coverage
         FROM ncal CROSS JOIN test CROSS JOIN tau""",

    // md5-parity green list, per-doc exact integers, micro-scaled z as
    // the integer selection key
    "q220_watermark_detect" ->
      """WITH tk AS (SELECT doc_id,
                            CASE WHEN ('0x' || substr(md5(token), 1, 15))::BIGINT % 2 = 0
                                 THEN 1 ELSE 0 END AS is_green
                     FROM (SELECT doc_id,
                                  unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                           FROM documents) t),
              g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                           CAST(sum(is_green) AS BIGINT) AS n_green
                    FROM tk GROUP BY doc_id),
              z AS (SELECT doc_id, n_tokens, n_green,
                           CAST(round((2.0 * n_green - n_tokens) /
                             sqrt(CAST(n_tokens AS DOUBLE)) * 1000000, 0) AS BIGINT) AS zm
                    FROM g WHERE n_tokens > 0)
         SELECT doc_id, n_tokens, n_green, CAST(zm AS DOUBLE) / 1000000.0 AS z_green
         FROM z ORDER BY zm DESC, doc_id LIMIT 50""",

    // q184's exact cell recipe, chi2 total as an order-free INTEGER sum
    // of micro contributions, V one identical double expression
    "q221_cramers_v" ->
      """WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
                        FROM documents GROUP BY 1, 2),
              ns AS (SELECT source, CAST(sum(o) AS BIGINT) AS ns FROM cells GROUP BY source),
              nc AS (SELECT lang, CAST(sum(o) AS BIGINT) AS nc FROM cells GROUP BY lang),
              nt AS (SELECT CAST(sum(o) AS BIGINT) AS n_total,
                            CAST(count(DISTINCT source) AS BIGINT) AS r_levels,
                            CAST(count(DISTINCT lang) AS BIGINT) AS c_levels
                     FROM cells),
              cx AS (SELECT c.o,
                            CAST((CAST(ns.ns AS HUGEINT) * nc.nc * 1000000) // nt.n_total
                              AS BIGINT) AS em,
                            nt.n_total, nt.r_levels, nt.c_levels
                     FROM cells c JOIN ns ON c.source = ns.source
                     JOIN nc ON c.lang = nc.lang CROSS JOIN nt),
              ag AS (SELECT n_total, r_levels, c_levels,
                            CAST(sum(CAST(CAST(o * 1000000 - em AS HUGEINT) *
                              (o * 1000000 - em) // em AS BIGINT)) AS BIGINT) AS chi2_micro
                     FROM cx GROUP BY 1, 2, 3)
         SELECT n_total, r_levels, c_levels,
                CAST(chi2_micro AS DOUBLE) / 1000000.0 AS chi2,
                CASE WHEN least(r_levels, c_levels) <= 1 THEN NULL
                     ELSE round(sqrt(CAST(chi2_micro AS DOUBLE) / 1000000.0 /
                            CAST(n_total AS DOUBLE) /
                            CAST(least(r_levels, c_levels) - 1 AS DOUBLE)), 6)
                END AS v
         FROM ag""",

    // per-source lower-median selection over the qm histogram, then
    // q210's exact F recipe on |qm − med| as HUGEINT //
    "q222_brown_forsythe" ->
      s"""WITH $scoredDocsCte,
              dd AS (SELECT source, CAST(floor(q * 1000000.0 + 0.5) AS BIGINT) AS qm
                     FROM scored),
              h AS (SELECT source, qm, CAST(count(*) AS BIGINT) AS c
                    FROM dd GROUP BY 1, 2),
              sn AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM h GROUP BY source),
              cum AS (SELECT source, qm, CAST(sum(c) OVER (PARTITION BY source ORDER BY qm
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                      FROM h),
              med AS (SELECT c.source, CAST(min(c.qm) AS BIGINT) AS med
                      FROM cum c JOIN sn ON c.source = sn.source
                      WHERE c.cum * 2 >= sn.n_s GROUP BY c.source),
              zz AS (SELECT d.source, abs(d.qm - m.med) AS zm
                     FROM dd d JOIN med m ON d.source = m.source),
              g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(zm) AS BIGINT) AS sz,
                           sum(CAST(zm AS HUGEINT) * zm) AS zq
                    FROM zz GROUP BY source),
              ag AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
                            CAST(sum(n) AS BIGINT) AS n_docs,
                            CAST(sum(sz) AS HUGEINT) AS s_tot,
                            CAST(sum(zq) AS HUGEINT) AS q_tot,
                            sum((CAST(sz AS HUGEINT) * sz * 1000000) // n) AS w_sum
                     FROM g),
              fin AS (SELECT k_groups, n_docs,
                             w_sum - (s_tot * s_tot * 1000000) // n_docs AS ssb_micro,
                             q_tot * 1000000 - w_sum AS ssw_micro
                      FROM ag)
         SELECT k_groups, n_docs,
                CAST(ssb_micro AS DOUBLE) / 1000000.0 AS ssb_z,
                CAST(ssw_micro AS DOUBLE) / 1000000.0 AS ssw_z,
                CASE WHEN ssw_micro = 0 OR k_groups <= 1 THEN NULL
                     ELSE round(CAST(ssb_micro * (n_docs - k_groups) AS DOUBLE) /
                                CAST(ssw_micro * (k_groups - 1) AS DOUBLE), 6) END AS f_bf
         FROM fin""",

    // exact integer cents, string-head leading digit (no float log10
    // boundary), micro fractions, integer MAD
    "q223_benford_prices" ->
      """WITH dg AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
                     FROM (SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
                           FROM lineitem) t
                     WHERE cents > 0),
              h AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM dg GROUP BY digit),
              tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM h),
              rows_ AS (SELECT digit, n_obs,
                               CAST((n_obs * 1000000) // n_total AS BIGINT) AS obs_ppm,
                               CAST(round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1000000, 0)
                                 AS BIGINT) AS exp_ppm
                        FROM h CROSS JOIN tot),
              mad AS (SELECT CAST(CAST(sum(abs(obs_ppm - exp_ppm)) // 9 AS BIGINT) AS DOUBLE)
                               / 1000000.0 AS mad
                      FROM rows_)
         SELECT digit, n_obs,
                CAST(obs_ppm AS DOUBLE) / 1000000.0 AS obs_frac,
                CAST(exp_ppm AS DOUBLE) / 1000000.0 AS benford_frac,
                mad
         FROM rows_ CROSS JOIN mad ORDER BY digit""",

    // deterministic 64-register HLL: bucket = top 6 of 60 md5 bits,
    // rank via minimal-width bin() length, EXACT harmonic sum as
    // Σ 2^(55−M) BIGINT, estimate/error one double expression each
    "q224_hll_audit" ->
      s"""WITH tf AS (SELECT source, token,
                            ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
                     FROM (SELECT source,
                                  unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS token
                           FROM documents) t),
              regs AS (SELECT source, h // 18014398509481984 AS bucket,
                              CAST(max(CASE WHEN h % 18014398509481984 = 0 THEN 55
                                       ELSE 55 - length(bin(h % 18014398509481984)) END)
                                AS BIGINT) AS m
                       FROM tf GROUP BY 1, 2),
              spine AS (SELECT DISTINCT source, unnest(range(0, 64)) AS bucket FROM tf),
              s AS (SELECT sp.source,
                           CAST(sum(CAST(1 AS BIGINT) << CAST(55 - coalesce(r.m, 0) AS INT))
                             AS BIGINT) AS hsum
                    FROM spine sp LEFT JOIN regs r
                      ON r.source = sp.source AND r.bucket = sp.bucket
                    GROUP BY sp.source),
              ex AS (SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS n_distinct
                     FROM tf GROUP BY source)
         SELECT ex.source, ex.n_distinct,
                round(${Queries.hllNumerator} / CAST(s.hsum AS DOUBLE), 6) AS hll_estimate,
                round((${Queries.hllNumerator} / CAST(s.hsum AS DOUBLE) - ex.n_distinct)
                  / CAST(ex.n_distinct AS DOUBLE), 6) AS rel_err
         FROM ex JOIN s ON ex.source = s.source ORDER BY ex.source""",

    // laplace-smoothed bucket log-ratios as micro integers, per-doc
    // weight an exact integer dot product, top-25 by the integer key
    "q225_dsir_weights" ->
      s"""WITH $scoredDocsCte,
              tk AS (SELECT d.doc_id, round(s.q, 6) >= 0.8 AS is_target,
                            ('0x' || substr(md5(d.tok), 1, 15))::BIGINT % 128 AS b
                     FROM (SELECT doc_id,
                                  unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS tok
                           FROM documents) d
                     JOIN scored s ON s.doc_id = d.doc_id),
              bk AS (SELECT b, CAST(count(*) AS BIGINT) AS cc,
                            CAST(coalesce(sum(CASE WHEN is_target THEN 1 END), 0)
                              AS BIGINT) AS ct
                     FROM tk GROUP BY b),
              tot AS (SELECT CAST(sum(cc) AS BIGINT) AS ctot,
                             CAST(sum(ct) AS BIGINT) AS ttot FROM bk),
              r AS (SELECT b, CAST(round(ln(CAST(ct + 1 AS DOUBLE) * (ctot + 128) /
                            (CAST(cc + 1 AS DOUBLE) * (ttot + 128))) * 1000000, 0)
                            AS BIGINT) AS r
                    FROM bk CROSS JOIN tot),
              db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
                     FROM tk GROUP BY 1, 2),
              wts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                             CAST(sum(c * r.r) AS BIGINT) AS wm
                      FROM db JOIN r USING (b) GROUP BY doc_id)
         SELECT doc_id, n_tokens, CAST(wm AS DOUBLE) / 1000000.0 AS log_weight
         FROM wts ORDER BY wm DESC, doc_id LIMIT 25""",

    // the engine's own permutation constants as a VALUES table, exact
    // 64-component signatures, estimated vs exact Jaccard per pair
    "q226_source_minhash_jaccard" -> {
      import graft.plans.MinHashSignature.{coeffA, coeffB, P}
      val permVals = (0 until 64)
        .map(i => s"(${i}, ${coeffA(i)}, ${coeffB(i)})").mkString(", ")
      s"""WITH hs AS (SELECT DISTINCT source,
                            ('0x' || substr(md5(token), 1, 8))::BIGINT AS h
                     FROM (SELECT source,
                                  unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS token
                           FROM documents) t),
              perms(i, pa, pb) AS (VALUES $permVals),
              sig AS (SELECT source, i,
                             CAST(min((pa * h + pb) % ${P}) AS BIGINT) AS mh
                      FROM hs CROSS JOIN perms GROUP BY 1, 2),
              est AS (SELECT a.source AS source_a, b.source AS source_b,
                             CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                               AS BIGINT) AS n_match
                      FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
                      GROUP BY 1, 2),
              sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS nh
                        FROM hs GROUP BY source),
              inter AS (SELECT a.source AS source_a, b.source AS source_b,
                               CAST(count(*) AS BIGINT) AS ni
                        FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
                        GROUP BY 1, 2),
              fin AS (SELECT e.source_a, e.source_b, sa.nh AS na, sb.nh AS nb,
                             CAST(coalesce(i.ni, 0) * 1000000
                               // (sa.nh + sb.nh - coalesce(i.ni, 0)) AS BIGINT) AS jxm,
                             CAST(e.n_match * 1000000 // 64 AS BIGINT) AS jem
                      FROM est e JOIN sizes sa ON e.source_a = sa.source
                      JOIN sizes sb ON e.source_b = sb.source
                      LEFT JOIN inter i ON e.source_a = i.source_a
                        AND e.source_b = i.source_b)
         SELECT source_a, source_b, na, nb,
                CAST(jxm AS DOUBLE) / 1000000.0 AS j_exact,
                CAST(jem AS DOUBLE) / 1000000.0 AS j_est,
                abs(round(CAST(jem AS DOUBLE) / 1000000.0 -
                          CAST(jxm AS DOUBLE) / 1000000.0, 6)) AS abs_err
         FROM fin ORDER BY source_a, source_b"""
    },

    // distinct (hash, source) self-join per hash — <= k^2 fan-out per
    // hash; overlap Jaccard the truncating micro division
    "q227_cross_source_dups" ->
      """WITH hs AS (SELECT DISTINCT md5(text) AS ch, source FROM documents),
              sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS nh
                        FROM hs GROUP BY source),
              pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                               CAST(count(*) AS BIGINT) AS n_shared
                        FROM hs a JOIN hs b ON a.ch = b.ch AND a.source < b.source
                        GROUP BY 1, 2)
         SELECT p.source_a, p.source_b, sa.nh AS na, sb.nh AS nb, p.n_shared,
                CAST(p.n_shared * 1000000 // (sa.nh + sb.nh - p.n_shared) AS DOUBLE)
                  / 1000000.0 AS overlap_jaccard
         FROM pairs p JOIN sizes sa ON p.source_a = sa.source
         JOIN sizes sb ON p.source_b = sb.source
         ORDER BY p.source_a, p.source_b""",

    // shSql trigram strings hashed md5-32 (the ShingleKernel
    // convention), first-bucket min-aggregate, truncating micro novelty
    "q229_ngram_novelty" ->
      s"""WITH tk AS (SELECT doc_id,
                            string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
                     FROM documents),
              sh AS (SELECT doc_id, unnest($shSql) AS sg FROM tk),
              dh AS (SELECT DISTINCT
                            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))::BIGINT
                              AS bucket,
                            ('0x' || substr(md5(sg), 1, 8))::BIGINT AS h
                     FROM sh),
              pres AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_types_present
                       FROM dh GROUP BY bucket),
              fb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new_types FROM (
                       SELECT h, CAST(min(bucket) AS BIGINT) AS bucket
                       FROM dh GROUP BY h) x GROUP BY bucket)
         SELECT p.bucket, p.n_types_present,
                CAST(coalesce(f.n_new_types, 0) AS BIGINT) AS n_new_types,
                CAST(coalesce(f.n_new_types, 0) * 1000000 // p.n_types_present
                  AS DOUBLE) / 1000000.0 AS novelty
         FROM pres p LEFT JOIN fb f ON p.bucket = f.bucket ORDER BY p.bucket""",

    // fixed bit-length buckets, per-bin KL terms micro-scaled before
    // the sum, JSD clamped at 0 before the halving division
    "q230_length_jsd" ->
      s"""WITH $scoredDocsCte,
              hh AS (SELECT source,
                            CAST(length(bin(greatest(CAST(toks AS BIGINT), 1)))
                              AS BIGINT) AS lb
                     FROM scored),
              hist AS (SELECT source, lb, CAST(count(*) AS BIGINT) AS c
                       FROM hh GROUP BY 1, 2),
              sizes AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
                        FROM hist GROUP BY source),
              spine AS (SELECT DISTINCT lb FROM hist),
              grid AS (SELECT a.source AS source_a, b.source AS source_b,
                              a.n AS na, b.n AS nb, s.lb,
                              coalesce(ha.c, 0) AS ca, coalesce(hb.c, 0) AS cb
                       FROM sizes a JOIN sizes b ON a.source < b.source
                       CROSS JOIN spine s
                       LEFT JOIN hist ha ON ha.source = a.source AND ha.lb = s.lb
                       LEFT JOIN hist hb ON hb.source = b.source AND hb.lb = s.lb),
              tm AS (SELECT source_a, source_b,
                            CASE WHEN ca > 0 THEN CAST(round(CAST(ca AS DOUBLE) *
                              ln(2.0 * ca * nb / (CAST(ca AS DOUBLE) * nb +
                                CAST(cb AS DOUBLE) * na)) / na * 1000000, 0)
                              AS BIGINT) ELSE 0 END AS ta,
                            CASE WHEN cb > 0 THEN CAST(round(CAST(cb AS DOUBLE) *
                              ln(2.0 * cb * na / (CAST(ca AS DOUBLE) * nb +
                                CAST(cb AS DOUBLE) * na)) / nb * 1000000, 0)
                              AS BIGINT) ELSE 0 END AS tb,
                            CASE WHEN ca + cb > 0 THEN 1 ELSE 0 END AS hasbin
                     FROM grid),
              ag AS (SELECT source_a, source_b, CAST(sum(hasbin) AS BIGINT) AS n_bins,
                            CAST(sum(ta) AS BIGINT) AS sa,
                            CAST(sum(tb) AS BIGINT) AS sb
                     FROM tm GROUP BY 1, 2)
         SELECT source_a, source_b, n_bins,
                CAST(greatest(sa + sb, 0) // 2 AS DOUBLE) / 1000000.0 AS jsd_nats
         FROM ag ORDER BY source_a, source_b""",

    // distinct trigram hashes per doc, common set by partial-agg doc
    // counts, risk the truncating micro fraction, top-25 by integer key
    "q231_memorization_risk" ->
      s"""WITH tk AS (SELECT doc_id,
                            string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
                     FROM documents),
              sh AS (SELECT doc_id, unnest($shSql) AS sg FROM tk),
              dt AS (SELECT DISTINCT doc_id,
                            ('0x' || substr(md5(sg), 1, 8))::BIGINT AS h
                     FROM sh),
              cm AS (SELECT h FROM (
                       SELECT h, CAST(count(*) AS BIGINT) AS nd FROM dt GROUP BY h) x
                     WHERE nd >= 10),
              pd AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
                            CAST(coalesce(sum(CASE WHEN c.h IS NOT NULL THEN 1 END), 0)
                              AS BIGINT) AS n_common
                     FROM dt d LEFT JOIN cm c ON d.h = c.h GROUP BY d.doc_id),
              rk AS (SELECT doc_id, n_trigrams, n_common,
                            CAST(n_common * 1000000 // n_trigrams AS BIGINT) AS riskm
                     FROM pd)
         SELECT doc_id, n_trigrams, n_common,
                CAST(riskm AS DOUBLE) / 1000000.0 AS risk
         FROM rk ORDER BY riskm DESC, doc_id LIMIT 25""",

    // closed-form polynomial-kernel MMD over moment aggregates; exact
    // cross-multiplied cell diffs, micro-scaled squares, integer sums
    "q234_embedding_mmd" ->
      """WITH u AS (SELECT CAST(label AS BIGINT) AS g, vec_id,
                           CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
                           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024.0)
                             AS BIGINT) AS vq
                    FROM embeddings),
              means AS (SELECT g, pos, CAST(count(*) AS BIGINT) AS n,
                               CAST(sum(vq) AS BIGINT) AS sv
                        FROM u GROUP BY 1, 2),
              gn AS (SELECT g, CAST(max(n) AS BIGINT) AS n FROM means GROUP BY g),
              mom AS (SELECT a.g, a.pos AS i, b.pos AS j,
                             CAST(sum(a.vq * b.vq) AS BIGINT) AS m
                      FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.g = b.g
                      GROUP BY 1, 2, 3),
              lin AS (SELECT a.g AS g_a, b.g AS g_b,
                             CAST(max(a.n) AS BIGINT) AS n_a,
                             CAST(max(b.n) AS BIGINT) AS n_b,
                             CAST(sum(CAST(round(pow(CAST(CAST(a.sv AS HUGEINT) * b.n -
                               CAST(b.sv AS HUGEINT) * a.n AS DOUBLE) /
                               (CAST(a.n AS DOUBLE) * b.n * 1024.0), 2) * 1000000, 0)
                               AS BIGINT)) AS BIGINT) AS lm
                      FROM means a JOIN means b ON a.pos = b.pos AND a.g < b.g
                      GROUP BY 1, 2),
              qd AS (SELECT ma.g AS g_a, mb.g AS g_b,
                            CAST(sum(CAST(round(pow(CAST(CAST(ma.m AS HUGEINT) * nb.n -
                              CAST(mb.m AS HUGEINT) * na.n AS DOUBLE) /
                              (CAST(na.n AS DOUBLE) * nb.n * 1048576.0), 2) * 1000000, 0)
                              AS BIGINT)) AS BIGINT) AS qm
                     FROM mom ma JOIN mom mb
                       ON ma.i = mb.i AND ma.j = mb.j AND ma.g < mb.g
                     JOIN gn na ON na.g = ma.g
                     JOIN gn nb ON nb.g = mb.g
                     GROUP BY 1, 2)
         SELECT l.g_a, l.g_b, l.n_a, l.n_b,
                CAST(lm AS DOUBLE) / 1000000.0 AS mmd2_linear,
                CAST(qm AS DOUBLE) / 1000000.0 AS mmd2_quadratic
         FROM lin l JOIN qd ON l.g_a = qd.g_a AND l.g_b = qd.g_b
         ORDER BY l.g_a, l.g_b""",

    // trainer rounds unrolled as MATERIALIZED HUGEINT CTE chains
    // (qualityLrCtes); the weight trajectory unpivoted via UNION ALL
    "q235_quality_lr_train" -> {
      import graft.operators.QualityClassifier.{K => LRK}
      val unpivot = (0 to 3).flatMap(r => (0 to LRK).map(j =>
        s"SELECT $r AS iter, $j AS j, CAST(w$j AS DOUBLE) / 1000000.0 AS w FROM wr$r"))
        .mkString("\n                UNION ALL ")
      s"""WITH $scoredDocsCte,
              ${qualityLrCtes(3)}
         SELECT iter, j, w FROM (
                $unpivot)
         ORDER BY iter, j"""
    },

    // final-round weights applied back to the feature table; confusion
    // counts at pm >= 0.5, truncating-micro accuracy
    "q236_quality_lr_eval" ->
      s"""WITH $scoredDocsCte,
              ${qualityLrCtes(3)},
              pe AS (SELECT ${graft.operators.QualityClassifier.pmOracleSql("w")} AS pm,
                            f.ym
                     FROM feat f CROSS JOIN wr3 w),
              ev AS (SELECT CAST(count(*) AS BIGINT) AS n,
                            CAST(coalesce(sum(CASE WHEN pm >= 500000 AND ym = 1000000
                              THEN 1 END), 0) AS BIGINT) AS tp,
                            CAST(coalesce(sum(CASE WHEN pm >= 500000 AND ym = 0
                              THEN 1 END), 0) AS BIGINT) AS fp,
                            CAST(coalesce(sum(CASE WHEN pm < 500000 AND ym = 1000000
                              THEN 1 END), 0) AS BIGINT) AS fn,
                            CAST(coalesce(sum(CASE WHEN pm < 500000 AND ym = 0
                              THEN 1 END), 0) AS BIGINT) AS tn
                     FROM pe)
         SELECT n, tp, fp, fn, tn,
                CAST(((tp + tn) * 1000000) // n AS DOUBLE) / 1000000.0 AS accuracy
         FROM ev""",

    // q225's weight chain over ALL docs, the budget prefix as ONE global
    // window over wm DESC (the oracle needs no two-level split — the
    // engine's bucket-major order IS this order), the scorecard exact
    // integer ratios
    "q237_dsir_resampled_drift" ->
      s"""WITH $scoredDocsCte,
              dtk AS (SELECT d.doc_id, s.lang,
                             CAST(floor(s.q * 1000000.0 + 0.5) AS BIGINT) AS qm,
                             ('0x' || substr(md5(d.tok), 1, 15))::BIGINT % 128 AS b
                      FROM (SELECT doc_id,
                                   unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS tok
                            FROM documents) d
                      JOIN scored s ON s.doc_id = d.doc_id),
              db AS MATERIALIZED (
                SELECT doc_id, lang, qm, b, CAST(count(*) AS BIGINT) AS c
                FROM dtk GROUP BY 1, 2, 3, 4),
              bk AS (SELECT b, CAST(sum(c) AS BIGINT) AS cc,
                            CAST(coalesce(sum(CASE WHEN qm >= 800000 THEN c END), 0)
                              AS BIGINT) AS ct
                     FROM db GROUP BY b),
              tot AS (SELECT CAST(sum(cc) AS BIGINT) AS ctot,
                             CAST(sum(ct) AS BIGINT) AS ttot FROM bk),
              r AS (SELECT b, CAST(round(ln(CAST(ct + 1 AS DOUBLE) * (ctot + 128) /
                            (CAST(cc + 1 AS DOUBLE) * (ttot + 128))) * 1000000, 0)
                            AS BIGINT) AS r
                    FROM bk CROSS JOIN tot),
              wts AS MATERIALIZED (
                SELECT doc_id, lang, qm, CAST(sum(c) AS BIGINT) AS n_tokens,
                       CAST(sum(c * r.r) AS BIGINT) AS wm
                FROM db JOIN r USING (b) GROUP BY 1, 2, 3),
              bud AS (SELECT CAST(CAST(sum(n_tokens) AS BIGINT) // 4 AS BIGINT)
                        AS budget FROM wts),
              sel AS (SELECT doc_id,
                             CAST(coalesce(sum(n_tokens) OVER (ORDER BY wm DESC, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                               AS BIGINT) AS cb
                      FROM wts),
              kept AS (SELECT doc_id FROM sel CROSS JOIN bud WHERE cb < budget),
              fl AS MATERIALIZED (
                SELECT w.*, CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END AS kept
                FROM wts w LEFT JOIN kept k USING (doc_id)),
              ov AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(coalesce(sum(CASE WHEN kept = 1 THEN 1 END), 0)
                              AS BIGINT) AS n_docs_kept,
                            CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
                            CAST(coalesce(sum(CASE WHEN kept = 1 THEN n_tokens END), 0)
                              AS BIGINT) AS n_tokens_kept,
                            CAST(sum(qm) AS BIGINT) AS sq,
                            CAST(coalesce(sum(CASE WHEN kept = 1 THEN qm END), 0)
                              AS BIGINT) AS sqk
                     FROM fl),
              ld AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lt,
                            CAST(coalesce(sum(CASE WHEN kept = 1 THEN n_tokens END), 0)
                              AS BIGINT) AS ltk
                     FROM fl GROUP BY lang),
              l1 AS (SELECT CAST(sum(abs((ltk * 1000000) // tk -
                            (lt * 1000000) // tt)) AS BIGINT) AS l1m
                     FROM ld CROSS JOIN (SELECT n_tokens_total AS tt,
                                                n_tokens_kept AS tk FROM ov) o)
         SELECT n_docs, n_docs_kept, n_tokens_total, n_tokens_kept,
                CAST(sq // n_docs AS DOUBLE) / 1000000.0 AS mean_q,
                CASE WHEN n_docs_kept = 0 THEN NULL
                     ELSE CAST(sqk // n_docs_kept AS DOUBLE) / 1000000.0
                END AS mean_q_kept,
                CAST(l1m AS DOUBLE) / 1000000.0 AS lang_l1_drift
         FROM ov CROSS JOIN l1""",

    // wr3 weights applied to the feature table, 16 fixed pm bins,
    // truncating-micro confidence/observed/ECE
    "q238_quality_lr_calibration" ->
      s"""WITH $scoredDocsCte,
              ${qualityLrCtes(3)},
              pe AS (SELECT ${graft.operators.QualityClassifier.pmOracleSql("w")} AS pm,
                            f.ym
                     FROM feat f CROSS JOIN wr3 w),
              bins AS (SELECT CAST(least(pm // 62500, 15) AS BIGINT) AS bin,
                              CAST(count(*) AS BIGINT) AS n,
                              CAST(coalesce(sum(CASE WHEN ym = 1000000 THEN 1 END), 0)
                                AS BIGINT) AS pos,
                              CAST(sum(pm) AS BIGINT) AS spm
                       FROM pe GROUP BY 1),
              b2 AS (SELECT bin, n, pos,
                            CAST(spm // n AS BIGINT) AS confm,
                            CAST((pos * 1000000) // n AS BIGINT) AS accm
                     FROM bins),
              ece AS (SELECT CAST(sum(n * abs(confm - accm)) // sum(n) AS BIGINT)
                        AS ecem FROM b2)
         SELECT bin, n, pos,
                CAST(confm AS DOUBLE) / 1000000.0 AS confidence,
                CAST(accm AS DOUBLE) / 1000000.0 AS observed,
                CAST(ecem AS DOUBLE) / 1000000.0 AS ece
         FROM b2 CROSS JOIN ece ORDER BY bin""",

    // the q237 weight chain, TWO window selections (wm desc vs md5
    // desc) at the same budget, the between-selections scorecard
    "q239_selection_bias_audit" ->
      s"""WITH $scoredDocsCte,
              dtk AS (SELECT d.doc_id, s.lang,
                             CAST(floor(s.q * 1000000.0 + 0.5) AS BIGINT) AS qm,
                             ('0x' || substr(md5(d.tok), 1, 15))::BIGINT % 128 AS b
                      FROM (SELECT doc_id,
                                   unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS tok
                            FROM documents) d
                      JOIN scored s ON s.doc_id = d.doc_id),
              db AS MATERIALIZED (
                SELECT doc_id, lang, qm, b, CAST(count(*) AS BIGINT) AS c
                FROM dtk GROUP BY 1, 2, 3, 4),
              bk AS (SELECT b, CAST(sum(c) AS BIGINT) AS cc,
                            CAST(coalesce(sum(CASE WHEN qm >= 800000 THEN c END), 0)
                              AS BIGINT) AS ct
                     FROM db GROUP BY b),
              tot AS (SELECT CAST(sum(cc) AS BIGINT) AS ctot,
                             CAST(sum(ct) AS BIGINT) AS ttot FROM bk),
              r AS (SELECT b, CAST(round(ln(CAST(ct + 1 AS DOUBLE) * (ctot + 128) /
                            (CAST(cc + 1 AS DOUBLE) * (ttot + 128))) * 1000000, 0)
                            AS BIGINT) AS r
                    FROM bk CROSS JOIN tot),
              wts AS MATERIALIZED (
                SELECT doc_id, lang, qm, CAST(sum(c) AS BIGINT) AS n_tokens,
                       CAST(sum(c * r.r) AS BIGINT) AS wm
                FROM db JOIN r USING (b) GROUP BY 1, 2, 3),
              bud AS (SELECT CAST(CAST(sum(n_tokens) AS BIGINT) // 4 AS BIGINT)
                        AS budget FROM wts),
              seld AS (SELECT doc_id,
                              CAST(coalesce(sum(n_tokens) OVER (ORDER BY wm DESC, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                                AS BIGINT) AS cb
                       FROM wts),
              kd AS (SELECT doc_id FROM seld CROSS JOIN bud WHERE cb < budget),
              hh AS (SELECT doc_id,
                            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                              AS hs
                     FROM wts),
              selr AS (SELECT w.doc_id,
                              CAST(coalesce(sum(w.n_tokens) OVER (ORDER BY h.hs DESC,
                                w.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                                AS BIGINT) AS cb
                       FROM wts w JOIN hh h ON w.doc_id = h.doc_id),
              kr AS (SELECT doc_id FROM selr CROSS JOIN bud WHERE cb < budget),
              fl AS MATERIALIZED (
                SELECT w.*,
                       CASE WHEN kd.doc_id IS NULL THEN 0 ELSE 1 END AS k_dsir,
                       CASE WHEN kr.doc_id IS NULL THEN 0 ELSE 1 END AS k_rand
                FROM wts w LEFT JOIN kd ON w.doc_id = kd.doc_id
                LEFT JOIN kr ON w.doc_id = kr.doc_id),
              ov AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(coalesce(sum(k_dsir), 0) AS BIGINT) AS n_dsir,
                            CAST(coalesce(sum(k_rand), 0) AS BIGINT) AS n_rand,
                            CAST(coalesce(sum(CASE WHEN k_dsir = 1 THEN n_tokens END), 0)
                              AS BIGINT) AS t_dsir,
                            CAST(coalesce(sum(CASE WHEN k_rand = 1 THEN n_tokens END), 0)
                              AS BIGINT) AS t_rand,
                            CAST(coalesce(sum(CASE WHEN k_dsir = 1 THEN qm END), 0)
                              AS BIGINT) AS sq_dsir,
                            CAST(coalesce(sum(CASE WHEN k_rand = 1 THEN qm END), 0)
                              AS BIGINT) AS sq_rand
                     FROM fl),
              lds AS (SELECT lang,
                             CAST(coalesce(sum(CASE WHEN k_dsir = 1 THEN n_tokens END), 0)
                               AS BIGINT) AS tld,
                             CAST(coalesce(sum(CASE WHEN k_rand = 1 THEN n_tokens END), 0)
                               AS BIGINT) AS tlr
                      FROM fl GROUP BY lang),
              l1 AS (SELECT CAST(sum(abs((tld * 1000000) // t_dsir -
                            (tlr * 1000000) // t_rand)) AS BIGINT) AS l1m
                     FROM lds CROSS JOIN (SELECT t_dsir, t_rand FROM ov) o)
         SELECT n_docs, n_dsir, n_rand, t_dsir, t_rand,
                CAST(sq_dsir // n_dsir AS DOUBLE) / 1000000.0 AS mean_q_dsir,
                CAST(sq_rand // n_rand AS DOUBLE) / 1000000.0 AS mean_q_rand,
                CAST(CAST(sq_dsir // n_dsir AS BIGINT) -
                     CAST(sq_rand // n_rand AS BIGINT) AS DOUBLE) / 1000000.0 AS q_lift,
                CAST(l1m AS DOUBLE) / 1000000.0 AS lang_l1_selection
         FROM ov CROSS JOIN l1""",

    // per-hash first arrival by min doc_id (arg_min == min_by, unique
    // ids), later arrivals classified same- vs cross-source
    "q240_contamination_first_seen" ->
      """WITH dd AS (SELECT doc_id, source, md5(text) AS ch FROM documents),
              fs AS (SELECT ch, CAST(min(doc_id) AS BIGINT) AS first_doc,
                            arg_min(source, doc_id) AS first_source
                     FROM dd GROUP BY ch)
         SELECT d.source,
                CAST(coalesce(sum(CASE WHEN d.doc_id = f.first_doc THEN 1 END), 0)
                  AS BIGINT) AS n_originated,
                CAST(coalesce(sum(CASE WHEN d.doc_id <> f.first_doc
                  AND d.source = f.first_source THEN 1 END), 0)
                  AS BIGINT) AS n_same_src_repeats,
                CAST(coalesce(sum(CASE WHEN d.doc_id <> f.first_doc
                  AND d.source <> f.first_source THEN 1 END), 0)
                  AS BIGINT) AS n_cross_src_ingests
         FROM dd d JOIN fs f USING (ch)
         GROUP BY d.source ORDER BY d.source""",

    // wr3 pm per doc joined back to its source, 16 fixed bins per
    // source, share and mean as truncating micro divisions
    "q241_source_quality_profile" ->
      s"""WITH $scoredDocsCte,
              ${qualityLrCtes(3)},
              ped AS (SELECT f.doc_id,
                             ${graft.operators.QualityClassifier.pmOracleSql("w")} AS pm
                      FROM feat f CROSS JOIN wr3 w),
              grp AS (SELECT s.source,
                             CAST(least(p.pm // 62500, 15) AS BIGINT) AS bin,
                             CAST(count(*) AS BIGINT) AS n,
                             CAST(sum(p.pm) AS BIGINT) AS spm
                      FROM ped p JOIN scored s ON s.doc_id = p.doc_id
                      GROUP BY 1, 2),
              tt AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_src,
                            CAST(sum(spm) AS BIGINT) AS spm_src
                     FROM grp GROUP BY source)
         SELECT g.source, g.bin, g.n,
                CAST((g.n * 1000000) // t.n_src AS DOUBLE) / 1000000.0 AS bin_share,
                CAST(t.spm_src // t.n_src AS DOUBLE) / 1000000.0 AS mean_pm
         FROM grp g JOIN tt t ON g.source = t.source
         ORDER BY g.source, g.bin""",

    // paired keep decisions (trained pm>=0.5 vs the scored CTE's gopher
    // gate gk), chi-square over the discordant cells in HUGEINT
    "q242_filter_agreement_mcnemar" ->
      s"""WITH $scoredDocsCte,
              ${qualityLrCtes(3)},
              ped AS (SELECT f.doc_id,
                             CASE WHEN ${graft.operators.QualityClassifier.pmOracleSql("w")}
                               >= 500000 THEN 1 ELSE 0 END AS mk
                      FROM feat f CROSS JOIN wr3 w),
              cells AS (SELECT CAST(count(*) AS BIGINT) AS n,
                               CAST(coalesce(sum(CASE WHEN p.mk = 1 AND s.gk = 1
                                 THEN 1 END), 0) AS BIGINT) AS n_both,
                               CAST(coalesce(sum(CASE WHEN p.mk = 1 AND s.gk = 0
                                 THEN 1 END), 0) AS BIGINT) AS b,
                               CAST(coalesce(sum(CASE WHEN p.mk = 0 AND s.gk = 1
                                 THEN 1 END), 0) AS BIGINT) AS c,
                               CAST(coalesce(sum(CASE WHEN p.mk = 0 AND s.gk = 0
                                 THEN 1 END), 0) AS BIGINT) AS n_neither
                        FROM ped p JOIN scored s ON s.doc_id = p.doc_id)
         SELECT n, n_both, b, c, n_neither,
                CASE WHEN b + c = 0 THEN NULL
                     ELSE CAST(CAST((CAST(b - c AS HUGEINT) * (b - c) * 1000000)
                       // (b + c) AS BIGINT) AS DOUBLE) / 1000000.0
                END AS chi2
         FROM cells""",

    // the q237 weight chain, THREE window selections at one budget,
    // pairwise Jaccards over the flag sums
    "q243_kept_set_agreement" ->
      s"""WITH $scoredDocsCte,
              dtk AS (SELECT d.doc_id, s.lang,
                             CAST(floor(s.q * 1000000.0 + 0.5) AS BIGINT) AS qm,
                             ('0x' || substr(md5(d.tok), 1, 15))::BIGINT % 128 AS b
                      FROM (SELECT doc_id,
                                   unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS tok
                            FROM documents) d
                      JOIN scored s ON s.doc_id = d.doc_id),
              db AS MATERIALIZED (
                SELECT doc_id, lang, qm, b, CAST(count(*) AS BIGINT) AS c
                FROM dtk GROUP BY 1, 2, 3, 4),
              bk AS (SELECT b, CAST(sum(c) AS BIGINT) AS cc,
                            CAST(coalesce(sum(CASE WHEN qm >= 800000 THEN c END), 0)
                              AS BIGINT) AS ct
                     FROM db GROUP BY b),
              tot AS (SELECT CAST(sum(cc) AS BIGINT) AS ctot,
                             CAST(sum(ct) AS BIGINT) AS ttot FROM bk),
              r AS (SELECT b, CAST(round(ln(CAST(ct + 1 AS DOUBLE) * (ctot + 128) /
                            (CAST(cc + 1 AS DOUBLE) * (ttot + 128))) * 1000000, 0)
                            AS BIGINT) AS r
                    FROM bk CROSS JOIN tot),
              wts AS MATERIALIZED (
                SELECT doc_id, lang, qm, CAST(sum(c) AS BIGINT) AS n_tokens,
                       CAST(sum(c * r.r) AS BIGINT) AS wm
                FROM db JOIN r USING (b) GROUP BY 1, 2, 3),
              bud AS (SELECT CAST(CAST(sum(n_tokens) AS BIGINT) // 4 AS BIGINT)
                        AS budget FROM wts),
              hh AS (SELECT doc_id,
                            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                              AS hs
                     FROM wts),
              sa AS (SELECT doc_id,
                            CAST(coalesce(sum(n_tokens) OVER (ORDER BY wm DESC, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                              AS BIGINT) AS cb
                     FROM wts),
              ka AS (SELECT doc_id FROM sa CROSS JOIN bud WHERE cb < budget),
              sb AS (SELECT w.doc_id,
                            CAST(coalesce(sum(w.n_tokens) OVER (ORDER BY h.hs DESC,
                              w.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                              AS BIGINT) AS cb
                     FROM wts w JOIN hh h ON w.doc_id = h.doc_id),
              kb AS (SELECT doc_id FROM sb CROSS JOIN bud WHERE cb < budget),
              sc AS (SELECT doc_id,
                            CAST(coalesce(sum(n_tokens) OVER (ORDER BY qm DESC, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                              AS BIGINT) AS cb
                     FROM wts),
              kc AS (SELECT doc_id FROM sc CROSS JOIN bud WHERE cb < budget),
              fl AS (SELECT w.doc_id,
                            CASE WHEN a.doc_id IS NULL THEN 0 ELSE 1 END AS ka,
                            CASE WHEN b2.doc_id IS NULL THEN 0 ELSE 1 END AS kb,
                            CASE WHEN c2.doc_id IS NULL THEN 0 ELSE 1 END AS kc
                     FROM wts w LEFT JOIN ka a ON w.doc_id = a.doc_id
                     LEFT JOIN kb b2 ON w.doc_id = b2.doc_id
                     LEFT JOIN kc c2 ON w.doc_id = c2.doc_id),
              ag AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(coalesce(sum(ka), 0) AS BIGINT) AS n_dsir,
                            CAST(coalesce(sum(kb), 0) AS BIGINT) AS n_rand,
                            CAST(coalesce(sum(kc), 0) AS BIGINT) AS n_qual,
                            CAST(coalesce(sum(ka * kb), 0) AS BIGINT) AS iab,
                            CAST(coalesce(sum(ka * kc), 0) AS BIGINT) AS iac,
                            CAST(coalesce(sum(kb * kc), 0) AS BIGINT) AS ibc
                     FROM fl)
         SELECT n_docs, n_dsir, n_rand, n_qual,
                CAST((iab * 1000000) // (n_dsir + n_rand - iab) AS DOUBLE)
                  / 1000000.0 AS j_dsir_rand,
                CAST((iac * 1000000) // (n_dsir + n_qual - iac) AS DOUBLE)
                  / 1000000.0 AS j_dsir_qual,
                CAST((ibc * 1000000) // (n_rand + n_qual - ibc) AS DOUBLE)
                  / 1000000.0 AS j_rand_qual
         FROM ag""",

    // descending cumulative sums over the 16-row bin histogram — the
    // aggregate-sized window; keep-rate/precision truncating micro
    "q244_quality_lr_threshold_sweep" ->
      s"""WITH $scoredDocsCte,
              ${qualityLrCtes(3)},
              pe AS (SELECT ${graft.operators.QualityClassifier.pmOracleSql("w")} AS pm,
                            f.ym
                     FROM feat f CROSS JOIN wr3 w),
              bins AS (SELECT CAST(least(pm // 62500, 15) AS BIGINT) AS bin,
                              CAST(count(*) AS BIGINT) AS n,
                              CAST(coalesce(sum(CASE WHEN ym = 1000000 THEN 1 END), 0)
                                AS BIGINT) AS pos
                       FROM pe GROUP BY 1),
              tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM bins),
              cum AS (SELECT bin,
                             CAST(sum(n) OVER (ORDER BY bin DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                               AS BIGINT) AS n_keep,
                             CAST(sum(pos) OVER (ORDER BY bin DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                               AS BIGINT) AS pos_keep
                      FROM bins)
         SELECT c.bin, CAST(c.bin AS DOUBLE) * 62500.0 / 1000000.0 AS threshold,
                c.n_keep,
                CAST((c.n_keep * 1000000) // t.n_tot AS DOUBLE) / 1000000.0
                  AS keep_rate,
                CAST((c.pos_keep * 1000000) // c.n_keep AS DOUBLE) / 1000000.0
                  AS precision_kept
         FROM cum c CROSS JOIN tot t ORDER BY c.bin""",

    // Weiszfeld rounds unrolled; gmedian vs mean in float units
    "q232_geometric_median" ->
      s"""WITH ${gmedCtes(3)}
         SELECT x3.pos, CAST(x3.x AS DOUBLE) / 1024000.0 AS gmedian,
                CAST(x0.x AS DOUBLE) / 1024000.0 AS mean
         FROM x3 JOIN x0 ON x3.pos = x0.pos ORDER BY x3.pos""",

    // top-50 by frequency, per-(token, doc) counts for that set only,
    // zero-docs through the closed form, HUGEINT products
    "q233_token_burstiness" ->
      """WITH inst AS (SELECT doc_id,
                             unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                      FROM documents),
              nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
              topt AS (SELECT token, tf FROM (
                         SELECT token, tf,
                                row_number() OVER (ORDER BY tf DESC, token) AS rn
                         FROM (SELECT token, CAST(count(*) AS BIGINT) AS tf
                               FROM inst GROUP BY token) h) r
                       WHERE rn <= 50),
              dc AS (SELECT i.token, i.doc_id, CAST(count(*) AS BIGINT) AS c
                     FROM inst i JOIN topt t ON i.token = t.token
                     GROUP BY 1, 2),
              mo AS (SELECT token, CAST(count(*) AS BIGINT) AS df,
                            CAST(sum(c) AS BIGINT) AS sc,
                            sum(CAST(c AS HUGEINT) * c) AS qc
                     FROM dc GROUP BY token)
         SELECT t.token, t.tf, m.df,
                CAST(CAST(((CAST(nd AS HUGEINT) * qc - CAST(sc AS HUGEINT) * sc)
                  * 1000000) // (CAST(nd AS HUGEINT) * sc) AS BIGINT) AS DOUBLE)
                  / 1000000.0 AS fano
         FROM mo m JOIN topt t USING (token) CROSS JOIN nd
         ORDER BY t.tf DESC, t.token""",

    // cum-minus-prefix-min CUSUM over the day relation; truncating
    // micro mean, one identical rounded sigma expression
    "q228_cusum_bursts" ->
      """WITH dv AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
                            CAST(count(*) AS BIGINT) AS v
                     FROM events GROUP BY 1),
              st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sv,
                            sum(CAST(v AS HUGEINT) * v) AS qv
                     FROM dv),
              par AS (SELECT n,
                             CAST((CAST(sv AS HUGEINT) * 1000000) // n AS BIGINT) AS mum,
                             CAST(round(sqrt(CAST(CAST(n AS HUGEINT) * qv -
                               CAST(sv AS HUGEINT) * sv AS DOUBLE)) / n * 1000000, 0)
                               AS BIGINT) AS sm
                      FROM st),
              cs AS (SELECT day, v, sm,
                            v * 1000000 - mum - sm // 2 AS yu,
                            mum - sm // 2 - v * 1000000 AS yl
                     FROM dv CROSS JOIN par),
              c1 AS (SELECT day, v, sm,
                            CAST(sum(yu) OVER w AS BIGINT) AS cu,
                            CAST(sum(yl) OVER w AS BIGINT) AS cl
                     FROM cs WINDOW w AS (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              c2 AS (SELECT day, v, sm, cu, cl,
                            CAST(least(min(cu) OVER w, 0) AS BIGINT) AS mcu,
                            CAST(least(min(cl) OVER w, 0) AS BIGINT) AS mcl
                     FROM c1 WINDOW w AS (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT day, v,
                CAST(cu - mcu AS DOUBLE) / 1000000.0 AS s_upper,
                CAST(cl - mcl AS DOUBLE) / 1000000.0 AS s_lower,
                CAST(CASE WHEN cu - mcu > 4 * sm OR cl - mcl > 4 * sm
                          THEN 1 ELSE 0 END AS INT) AS is_burst
         FROM c2 ORDER BY day""",

    // the oracle ranks the vocab once (no scale constraint) where the
    // engine runs 5 TakeOrdered probes
    "q199_vocab_coverage" ->
      """WITH tf AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM (
                       SELECT unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                       FROM documents) t0
                     GROUP BY token),
              tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total,
                             CAST(count(*) AS BIGINT) AS vocab FROM tf),
              rk AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rn
                     FROM tf),
              ks AS (SELECT CAST(unnest([16, 64, 256, 1024, 4096]) AS INT) AS k),
              cov AS (SELECT k, CAST(sum(CASE WHEN rn <= k THEN freq ELSE 0 END) AS BIGINT) AS covered
                      FROM ks CROSS JOIN rk GROUP BY k)
         SELECT k, covered, vocab, total,
                CAST((CAST(covered AS HUGEINT) * 1000000) // total AS DOUBLE)
                  / 1000000.0 AS coverage
         FROM cov CROSS JOIN tot ORDER BY k""",

    // scored reused for quality/gopher/dup; q186's rank-sum CTEs over
    // scored.toks; every rate the same truncating micro division
    "q200_source_scorecard" ->
      s"""WITH $scoredDocsCte,
              dd AS (SELECT source, doc_id,
                            CAST(floor(q * 1000000.0 + 0.5) AS BIGINT) AS qm,
                            gk, content_hash, CAST(toks AS BIGINT) AS len
                     FROM scored),
              ke AS (SELECT content_hash, min(doc_id) AS keep_id
                     FROM dd GROUP BY content_hash),
              rt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(sum(qm) AS BIGINT) AS sq,
                            CAST(sum(gk) AS BIGINT) AS sg,
                            CAST(sum(CASE WHEN dd.doc_id != ke.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS sd
                     FROM dd JOIN ke USING (content_hash)
                     GROUP BY source),
              h AS (SELECT source, len, CAST(count(*) AS BIGINT) AS c
                    FROM dd GROUP BY source, len),
              cum AS (SELECT source, len, c,
                             coalesce(sum(c) OVER (PARTITION BY source ORDER BY len
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r_prev
                      FROM h),
              gn AS (SELECT source, CAST(sum(c) AS BIGINT) AS nd,
                            CAST(sum(len * c) AS BIGINT) AS n_tokens,
                            sum(CAST(len AS HUGEINT) *
                                (2 * CAST(c AS HUGEINT) * r_prev + CAST(c AS HUGEINT) * (c + 1))) AS two_ix
                     FROM cum GROUP BY source)
         SELECT rt.source, n_docs, n_tokens,
                CAST(sq // n_docs AS DOUBLE) / 1000000.0 AS mean_q,
                CAST((sd * 1000000) // n_docs AS DOUBLE) / 1000000.0 AS dup_rate,
                CAST((sg * 1000000) // n_docs AS DOUBLE) / 1000000.0 AS gopher_rate,
                CAST(CAST(((two_ix - CAST(nd + 1 AS HUGEINT) * n_tokens) * 1000000)
                     // (CAST(nd AS HUGEINT) * n_tokens) AS BIGINT) AS DOUBLE)
                  / 1000000.0 AS gini
         FROM rt JOIN gn ON rt.source = gn.source
         WHERE n_tokens > 0 ORDER BY rt.source""",

    // scored's q into fixed equal-width buckets (no window); the SAME
    // term expression text both engines, add-one smoothed
    "q198_quality_psi" ->
      s"""WITH $scoredDocsCte,
              b AS (SELECT source,
                           CAST(least(floor(q * 10.0), 9.0) AS INT) AS bucket,
                           CAST(count(*) AS BIGINT) AS cs
                    FROM scored GROUP BY 1, 2),
              g AS (SELECT bucket, CAST(sum(cs) AS BIGINT) AS cg FROM b GROUP BY bucket),
              nz AS (SELECT CAST(sum(cs) AS BIGINT) AS ng FROM b),
              st AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM b GROUP BY source),
              grid AS (SELECT st.source, st.ns, g.bucket, g.cg, nz.ng,
                              coalesce(b.cs, 0) AS cs
                       FROM st CROSS JOIN g CROSS JOIN nz
                            LEFT JOIN b ON b.source = st.source AND b.bucket = g.bucket),
              tm AS (SELECT source, ns,
                            CAST(round((CAST(cs + 1 AS DOUBLE) / (ns + 10) - CAST(cg + 1 AS DOUBLE) / (ng + 10))
                                 * ln((CAST(cs + 1 AS DOUBLE) / (ns + 10)) / (CAST(cg + 1 AS DOUBLE) / (ng + 10))), 6)
                                 AS DECIMAL(18,6)) AS term
                     FROM grid)
         SELECT source, max(ns) AS n_docs,
                CAST(round(sum(term), 6) AS DOUBLE) AS psi
         FROM tm GROUP BY source ORDER BY source""",

    // the q195 round machinery with an absorbing boundary: 20 unrolled
    // value-iteration rounds, purchase pinned to 0 each round
    "q197_absorption_time" -> {
      def round(k: Int): String = {
        val prev = s"t${k - 1}"
        s"""s$k AS (SELECT tm.prev AS et,
                           sum(tm.cnt * x.ts) // max(tm.ntot) AS acc
                    FROM tm JOIN $prev x ON x.et = tm.next
                    GROUP BY tm.prev),
              t$k AS MATERIALIZED (
                    SELECT ty.et,
                           CASE WHEN ty.et = 'purchase' THEN CAST(0 AS HUGEINT)
                                ELSE 1000000 + coalesce(s$k.acc, CAST(0 AS HUGEINT))
                           END AS ts
                    FROM ty LEFT JOIN s$k ON s$k.et = ty.et)"""
      }
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
                     FROM events),
              pr AS (SELECT event_type AS prev,
                            lead(event_type) OVER (PARTITION BY user_id
                                                   ORDER BY us, event_id) AS next
                     FROM e),
              tc AS (SELECT prev, next, CAST(count(*) AS BIGINT) AS cnt
                     FROM pr WHERE next IS NOT NULL GROUP BY prev, next),
              no AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS ntot FROM tc GROUP BY prev),
              tm AS (SELECT tc.prev, tc.next, CAST(cnt AS HUGEINT) AS cnt,
                            CAST(ntot AS HUGEINT) AS ntot
                     FROM tc JOIN no USING (prev)),
              ty AS (SELECT DISTINCT et FROM
                       (SELECT prev AS et FROM tc UNION SELECT next FROM tc) u0),
              t0 AS (SELECT et, CAST(0 AS HUGEINT) AS ts FROM ty),
              ${(1 to 20).map(round).mkString(",\n              ")},
              no2 AS (SELECT prev AS et, CAST(sum(cnt) AS BIGINT) AS n_out
                      FROM tc GROUP BY prev)
         SELECT ty.et AS event_type, coalesce(no2.n_out, 0) AS n_out,
                CAST(t20.ts AS DOUBLE) / 1000000.0 AS exp_steps
         FROM ty JOIN t20 ON ty.et = t20.et
                 LEFT JOIN no2 ON ty.et = no2.et
         ORDER BY event_type"""
    },

    // each flag = len(ngrams) > len(distinct ngrams) over the same
    // whitespace tokens; empty probe windows contribute 0
    "q196_repeated_ngram_probe" -> {
      def ng(n: Int): String =
        s"list_transform(range(1, len(t) - $n + 2), i -> array_to_string(t[i:i+${n - 1}], ' '))"
      def rep(n: Int): String =
        s"CAST(CASE WHEN len(${ng(n)}) > len(list_distinct(${ng(n)})) THEN 1 ELSE 0 END AS INT) AS rep$n"
      s"""WITH tk AS (SELECT doc_id,
                             string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
                      FROM documents),
              f AS (SELECT doc_id, ${rep(2)}, ${rep(4)}, ${rep(8)}, ${rep(16)}
                    FROM tk)
         SELECT doc_id, rep2, rep4, rep8, rep16,
                CAST(CASE WHEN rep16 = 1 THEN 16 WHEN rep8 = 1 THEN 8
                          WHEN rep4 = 1 THEN 4 WHEN rep2 = 1 THEN 2
                          ELSE 0 END AS INT) AS max_rep_n
         FROM f ORDER BY doc_id"""
    },

    // DuckDB's native ASOF vs our union+running-last plan (q49's
    // cross-engine pairing), then the exact inverse-CDF selection
    "q179_latency_percentiles" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                    FROM events),
              pr AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase'),
              ck AS (SELECT user_id, us, max(event_id) AS cid
                     FROM e WHERE event_type = 'click' GROUP BY 1, 2),
              lat AS (SELECT pr.us // 86400000000 AS day, pr.us - ck.us AS lat
                      FROM pr ASOF JOIN ck
                        ON pr.user_id = ck.user_id AND pr.us >= ck.us),
              cnt AS (SELECT day, lat, CAST(count(*) AS BIGINT) AS c
                      FROM lat GROUP BY 1, 2),
              cum AS (SELECT day, lat, c,
                             sum(c) OVER (PARTITION BY day ORDER BY lat) AS cum,
                             sum(c) OVER (PARTITION BY day) AS tot
                      FROM cnt),
              sel AS (SELECT day, p, min(lat) AS latency_us
                      FROM cum CROSS JOIN (SELECT unnest([50, 90, 99]) AS p)
                      WHERE cum * 100 >= p * tot GROUP BY day, p)
         SELECT CAST(day AS BIGINT) AS day, CAST(p AS INT) AS pct,
                CAST(latency_us AS BIGINT) AS latency_us
         FROM sel ORDER BY day, pct""",

    // same (ts, event_id)-ordered symbol string; every pattern start
    // position enumerated (the q175 oracle semantics)
    "q178_multi_pattern" ->
      """WITH sq AS (SELECT user_id,
                            string_agg(substr(event_type, 1, 1), ''
                              ORDER BY epoch_us(ts), event_id) AS seq
                     FROM events GROUP BY user_id),
              p AS (SELECT unnest(['vcp', 'ee', 'sv', 'cc', 'vvv']) AS pattern),
              h AS (SELECT s.user_id, p.pattern,
                           CAST(len(list_filter(range(1, len(s.seq) - len(p.pattern) + 2),
                                i -> substr(s.seq, CAST(i AS INT), len(p.pattern)) = p.pattern)) AS BIGINT) AS n_hits
                    FROM sq s CROSS JOIN p)
         SELECT pattern, CAST(count(*) AS BIGINT) AS n_users,
                CAST(sum(n_hits) AS BIGINT) AS n_hits
         FROM h WHERE n_hits > 0 GROUP BY pattern ORDER BY pattern""",

    // pairwise slopes quantized to micro-scaled integers; the oracle
    // sign-splits negative numerators so // floors match Spark's
    // truncating div (the q153 rule); lower median by (slope, d1, d2)
    "q177_theil_sen" ->
      """WITH dc AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                            CAST(count(*) AS BIGINT) AS c
                     FROM events GROUP BY 1, 2),
              p AS (SELECT a.event_type, a.day AS d1, b.day AS d2,
                           CASE WHEN (b.c - a.c) >= 0
                                THEN ((b.c - a.c) * 1000000) // (b.day - a.day)
                                ELSE -((-(b.c - a.c) * 1000000) // (b.day - a.day))
                           END AS slope_q
                    FROM dc a JOIN dc b
                      ON a.event_type = b.event_type AND a.day < b.day),
              r AS (SELECT event_type, slope_q,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY slope_q, d1, d2) AS rn,
                           count(*) OVER (PARTITION BY event_type) AS np
                    FROM p),
              m AS (SELECT event_type, slope_q, np FROM r WHERE rn = (np + 1) // 2),
              nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
                     FROM dc GROUP BY 1)
         SELECT event_type, n_days, CAST(np AS BIGINT) AS n_pairs,
                CAST(slope_q AS DOUBLE) / 1000000.0 AS slope_per_day
         FROM m JOIN nd USING (event_type) ORDER BY event_type""",

    // same sized grid, same exhaustive argmin with the (pad, b1, b2,
    // b3) tie, same per-bucket regroup
    "q176_length_buckets" ->
      s"""WITH hist AS (SELECT CAST(len(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS BIGINT) AS len,
                               CAST(count(*) AS BIGINT) AS n
                        FROM documents GROUP BY 1),
              mx AS (SELECT max(len) AS mx FROM hist),
              st AS (SELECT (mx + 63) // 64 AS step FROM mx),
              cand AS (SELECT DISTINCT ((len + step - 1) // step) * step AS b
                       FROM hist CROSS JOIN st),
              b4t AS (SELECT max(b) AS b4 FROM cand),
              tri AS (SELECT c1.b AS b1, c2.b AS b2, c3.b AS b3, b4
                      FROM cand c1 JOIN cand c2 ON c1.b < c2.b
                      JOIN cand c3 ON c2.b < c3.b
                      CROSS JOIN b4t WHERE c3.b < b4),
              costs AS (SELECT b1, b2, b3, b4,
                               CAST(sum(n * ((CASE WHEN len <= b1 THEN b1
                                                   WHEN len <= b2 THEN b2
                                                   WHEN len <= b3 THEN b3
                                                   ELSE b4 END) - len)) AS BIGINT) AS pad
                        FROM tri CROSS JOIN hist GROUP BY b1, b2, b3, b4),
              win AS (SELECT * FROM costs ORDER BY pad, b1, b2, b3 LIMIT 1),
              assigned AS (SELECT h.len, h.n,
                                  CASE WHEN h.len <= w.b1 THEN w.b1
                                       WHEN h.len <= w.b2 THEN w.b2
                                       WHEN h.len <= w.b3 THEN w.b3
                                       ELSE w.b4 END AS boundary
                           FROM hist h CROSS JOIN win w)
         SELECT boundary, CAST(sum(n) AS BIGINT) AS n_docs,
                CAST(sum(n * len) AS BIGINT) AS n_tokens,
                CAST(sum(n * (boundary - len)) AS BIGINT) AS n_pad_tokens,
                CAST((sum(n * len) * 1000000)
                     // (sum(n * len) + sum(n * (boundary - len))) AS DOUBLE) / 1000000.0 AS fill
         FROM assigned GROUP BY boundary ORDER BY boundary""",

    // every start position enumerated — exactly the kernel's
    // all-occurrences (overlapping) semantics
    "q175_blocklist" ->
      """WITH p AS (SELECT unnest(['table table', 'batch batch', 'fast key',
                                   'slow slow', 'spark a a']) AS pattern),
              h AS (SELECT d.doc_id, p.pattern,
                           CAST(len(list_filter(range(1, len(d.text) - len(p.pattern) + 2),
                                i -> substr(d.text, CAST(i AS INT), len(p.pattern)) = p.pattern)) AS BIGINT) AS n_hits
                    FROM documents d CROSS JOIN p)
         SELECT doc_id, pattern, n_hits FROM h
         WHERE n_hits > 0 ORDER BY doc_id, pattern""",

    // exact-rational KN with D=3/4: one integer numerator over one
    // integer denominator, DuckDB // == Spark div on positives
    "q174_kneser_ney" ->
      s"""WITH tk AS (SELECT string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
                      FROM documents),
              bg AS (SELECT unnest(list_transform(range(1, len(t)),
                            i -> t[i] || ' ' || t[i+1])) AS bigram
                     FROM tk),
              bc AS (SELECT split_part(bigram, ' ', 1) AS w1,
                            split_part(bigram, ' ', 2) AS w2,
                            CAST(count(*) AS BIGINT) AS c
                     FROM bg GROUP BY 1, 2),
              cx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS ctx,
                            CAST(count(*) AS BIGINT) AS n1p
                     FROM bc GROUP BY w1),
              ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncont
                     FROM bc GROUP BY w2),
              nt AS (SELECT CAST(count(*) AS BIGINT) AS ntypes FROM bc)
         SELECT w1, w2, c,
                CAST(((greatest(4*c - 3, 0) * ntypes + 3 * n1p * ncont) * 1000000)
                     // (4 * ctx * ntypes) AS DOUBLE) / 1000000.0 AS p_kn
         FROM bc JOIN cx USING (w1) JOIN ct USING (w2) CROSS JOIN nt
         WHERE c >= 5 ORDER BY w1, w2""",

    // q153's trained centroids + one assignment pass vs c3, then q88's
    // prefix shape with the cell as the stratum
    "q173_cluster_balanced_sample" ->
      s"""WITH ${kmeansCtes(8, 3)},
              dA AS (SELECT u.vec_id, c.cid,
                            CAST(sum((u.vq - c.cq) * (u.vq - c.cq)) AS BIGINT) AS dist
                     FROM u JOIN c3 c ON u.pos = c.pos
                     GROUP BY u.vec_id, c.cid),
              aA AS (SELECT vec_id, cid FROM (
                       SELECT vec_id, cid,
                              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                       FROM dA) t WHERE rn = 1),
              dd AS (SELECT d.doc_id, a.cid AS cell,
                            CAST(len(regexp_extract_all(d.text, '$bpePatternSql')) AS BIGINT) AS toks,
                            md5(CAST(d.doc_id AS VARCHAR)) AS h
                     FROM documents d JOIN aA a ON a.vec_id = d.doc_id),
              tot AS (SELECT CAST(sum(toks) AS BIGINT) AS tt FROM dd),
              x AS (SELECT dd.*, (tt // 32) AS budget,
                           coalesce(sum(toks) OVER (PARTITION BY cell ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                    FROM dd CROSS JOIN tot)
         SELECT cell, CAST(max(budget) AS BIGINT) AS budget,
                count(*) AS n_docs_kept,
                CAST(sum(toks) AS BIGINT) AS n_tokens_kept
         FROM x WHERE cum_before < budget
         GROUP BY cell ORDER BY cell""",

    // the NN-descent rounds unrolled; final graph read off g2
    "q171_nsw_graph" ->
      s"""WITH ${nswCtes(8, 3, 8)}
         SELECT a AS vec_id, CAST(rk AS INT) AS nn_rank, b AS neighbor_id, d2
         FROM g3 ORDER BY vec_id, nn_rank""",

    // exact integer-L2 top-4 per q29 anchor vs EACH round's graph edges
    // (the per-round g0..g3 CTEs are already materialized — the curve
    // reads them all from the one unrolled build, mirroring the engine)
    "q172_nsw_recall" ->
      s"""WITH ${nswCtes(8, 3, 8)},
              exd AS (SELECT ua.vec_id AS a, ub.vec_id AS b,
                             CAST(sum((ua.vq - ub.vq) * (ua.vq - ub.vq)) AS BIGINT) AS d2
                      FROM u ua JOIN u ub
                        ON ub.pos = ua.pos AND ub.vec_id != ua.vec_id
                      WHERE ua.vec_id < 8
                      GROUP BY ua.vec_id, ub.vec_id),
              ex4 AS (SELECT a, b FROM (
                        SELECT a, b,
                               row_number() OVER (PARTITION BY a ORDER BY d2, b) AS rk
                        FROM exd) t
                      WHERE rk <= 4),
              hits AS (${(0 to 3).map(r =>
                s"""SELECT $r AS rd, e.a, CAST(count(g.b) AS BIGINT) AS n_hits
                       FROM ex4 e LEFT JOIN g$r g ON g.a = e.a AND g.b = e.b
                       GROUP BY e.a""").mkString(" UNION ALL ")})
         SELECT CAST(rd AS INT) AS round, a AS vec_id, n_hits,
                CAST((n_hits * 1000000) // 4 AS DOUBLE) / 1000000.0 AS recall
         FROM hits ORDER BY round, vec_id""",

    // md5-offset negative draws + exact integer dot/norm cosine; is_hard
    // from the rounded cosine (round-before-compare)
    "q158_negative_sampling" ->
      s"""WITH u AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                            CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024.0) AS BIGINT) AS vq
                     FROM embeddings),
              nr AS (SELECT vec_id, CAST(sum(vq * vq) AS BIGINT) AS nrm
                     FROM u GROUP BY vec_id),
              nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
              pr AS (SELECT e.vec_id AS anchor_id, CAST(j AS INT) AS j,
                            (e.vec_id + 1 + (${graft.functions.PortableHash
                              .duckdbMd5Long("e.vec_id || '_' || j", 15)} % (n - 1))) % n
                              AS neg_id
                     FROM embeddings e CROSS JOIN nn
                     CROSS JOIN (SELECT unnest(range(1, 5)) AS j)),
              dt AS (SELECT p.anchor_id, p.j, p.neg_id,
                            CAST(sum(a.vq * b.vq) AS BIGINT) AS dot
                     FROM pr p JOIN u a ON a.vec_id = p.anchor_id
                     JOIN u b ON b.vec_id = p.neg_id AND b.pos = a.pos
                     GROUP BY p.anchor_id, p.j, p.neg_id),
              sc AS (SELECT d.anchor_id, d.j, d.neg_id,
                            CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
                                 ELSE round(d.dot / sqrt(CAST(na.nrm AS DOUBLE) * nb.nrm), 6)
                            END AS cosine
                     FROM dt d JOIN nr na ON d.anchor_id = na.vec_id
                     JOIN nr nb ON d.neg_id = nb.vec_id)
         SELECT anchor_id, j, neg_id, cosine,
                CAST(CASE WHEN cosine >= 0.2 THEN 1 ELSE 0 END AS INT) AS is_hard
         FROM sc ORDER BY anchor_id, j""",

    // the byte-alphabet q87: same unrolled merge rounds, hex-byte v0,
    // GPT-2 pre-tokenizer
    "q168_bpe_byte_train" ->
      s"""WITH ${byteBpeTrainCtes(6)}
         ${(1 to 6).map(k => s"SELECT $k AS merge_rank, pair, n FROM win$k")
        .mkString(" UNION ALL ")} ORDER BY merge_rank""",

    // the byte-alphabet q117: v6 doubles as the trained
    // pretoken->encoding table; per-lang fertility is the micro-scaled
    // integer division
    "q169_bpe_byte_tokenize" ->
      s"""WITH ${byteBpeTrainCtes(6)},
              tokv AS (SELECT word,
                              CAST(len(enc) - len(replace(enc, chr(2), '')) AS BIGINT) AS n_sym
                       FROM v6),
              lw AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS tf
                     FROM (SELECT lang,
                                  unnest(regexp_extract_all(text, '$bpePatternSql')) AS word
                           FROM documents)
                     GROUP BY lang, word)
         SELECT lang, CAST(sum(tf) AS BIGINT) AS n_pretokens,
                CAST(sum(tf * coalesce(n_sym, len(word))) AS BIGINT) AS n_byte_bpe_tokens,
                CAST((sum(tf * coalesce(n_sym, len(word))) * 1000000) // sum(tf) AS DOUBLE)
                  / 1000000.0 AS fertility
         FROM lw LEFT JOIN tokv USING (word)
         GROUP BY lang ORDER BY lang""",

    // q42's byte-fake frame CTE -> 61-sample nearest resize -> dHash bits
    // -> the q28 pigeonhole banding -> popcount histogram
    "q150_perceptual_neardup" ->
      """WITH f AS (SELECT doc_id,
                  list_transform(range(0, CAST(ceil(length(text)/64.0) AS INT)), i ->
                    list_sum(list_transform(range(CAST(64*i+1 AS INT),
                                                  CAST(least(64*(i+1), length(text))+1 AS INT)),
                                            j -> ord(substr(text, CAST(j AS INT), 1))))
                    * 1.0 / (least(64*(i+1), length(text)) - 64*i)) AS frames
           FROM documents WHERE length(text) > 0),
              r AS (SELECT doc_id,
                           list_transform(range(0, 61),
                             k -> frames[1 + CAST((k*len(frames))//61 AS INT)]) AS rs
                    FROM f),
              h AS (SELECT doc_id,
                           CAST(list_sum(list_transform(range(0, 60), k ->
                             CASE WHEN rs[k+2] > rs[k+1]
                                  THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END)) AS BIGINT) AS ph
                    FROM r),
              ck AS (SELECT doc_id, ph, chunk, (ph >> CAST(chunk*15 AS INT)) & 32767 AS chunk_val
                     FROM (SELECT doc_id, ph, unnest(range(0, 4)) AS chunk FROM h) t),
              cand AS (SELECT DISTINCT l.doc_id AS doc_a, rr.doc_id AS doc_b,
                              l.ph AS pa, rr.ph AS pb
                       FROM ck l JOIN ck rr
                         ON l.chunk = rr.chunk AND l.chunk_val = rr.chunk_val
                        AND l.doc_id < rr.doc_id),
              ham AS (SELECT bit_count(xor(pa, pb)) AS hamming FROM cand
                      WHERE bit_count(xor(pa, pb)) <= 3)
         SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
         FROM ham GROUP BY hamming ORDER BY hamming""",

    // q167: integer Haar-packet band energies per 64-byte frame (the
    // byteBandEnergies math: 4-point Hadamard squares summed per band),
    // frame-major flatten ordered by frame, 61-sample nearest resize,
    // dHash bits, then q150's pigeonhole banding + popcount histogram —
    // every compared operand is a BIGINT, no float discipline needed
    "q167_audio_fingerprint" ->
      s"""WITH d0 AS (SELECT doc_id, text, length(text) AS n
                      FROM documents WHERE length(text) > 0),
              fr AS (SELECT doc_id, text, n,
                            unnest(range(0, CAST(ceil(n/64.0) AS INT))) AS f
                     FROM d0),
              g AS (SELECT doc_id, text, f, CAST(64*f AS BIGINT) AS lo,
                           CAST((least(n, 64*(f+1)) - 64*f) // 4 AS BIGINT) AS q
                    FROM fr),
              eb AS (SELECT doc_id, f,
                            ${bandEnergySql(1, 1, 1)} AS ell,
                            ${bandEnergySql(1, -1, -1)} AS elh,
                            ${bandEnergySql(-1, 1, -1)} AS ehl,
                            ${bandEnergySql(-1, -1, 1)} AS ehh
                     FROM g),
              sq AS (SELECT doc_id,
                            flatten(list([ell, elh, ehl, ehh] ORDER BY f)) AS bands
                     FROM eb GROUP BY doc_id),
              r AS (SELECT doc_id,
                           list_transform(range(0, 61),
                             k -> bands[1 + CAST((k*len(bands))//61 AS INT)]) AS rs
                    FROM sq),
              h AS (SELECT doc_id,
                           CAST(list_sum(list_transform(range(0, 60), k ->
                             CASE WHEN rs[k+2] > rs[k+1]
                                  THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END)) AS BIGINT) AS ph
                    FROM r),
              ck AS (SELECT doc_id, ph, chunk, (ph >> CAST(chunk*15 AS INT)) & 32767 AS chunk_val
                     FROM (SELECT doc_id, ph, unnest(range(0, 4)) AS chunk FROM h) t),
              cand AS (SELECT DISTINCT l.doc_id AS doc_a, rr.doc_id AS doc_b,
                              l.ph AS pa, rr.ph AS pb
                       FROM ck l JOIN ck rr
                         ON l.chunk = rr.chunk AND l.chunk_val = rr.chunk_val
                        AND l.doc_id < rr.doc_id),
              ham AS (SELECT bit_count(xor(pa, pb)) AS hamming FROM cand
                      WHERE bit_count(xor(pa, pb)) <= 3)
         SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
         FROM ham GROUP BY hamming ORDER BY hamming""",

    // sliding-window min over the positional hash list reproduces the
    // deque kernel exactly (ties select by value — set semantics)
    "q114_winnow_fingerprint" ->
      s"""WITH tk AS (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
                      FROM documents),
              hs AS (SELECT doc_id, len(t) AS n,
                            list_transform(range(1, len(t)-1),
                              i -> ${graft.functions.PortableHash
                                .duckdbMd5Long("t[i]||' '||t[i+1]||' '||t[i+2]", 15)}) AS h
                     FROM tk WHERE len(t) >= 6),
              fp AS (SELECT doc_id, n,
                            len(list_distinct(list_transform(range(4, len(h)+1),
                              i -> list_min(list_slice(h, i-3, i))))) AS nf
                     FROM hs)
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                CAST(n - 5 AS BIGINT) AS n_windows,
                CAST(nf AS BIGINT) AS n_fingerprints,
                CAST((nf * 1000000) // (n - 5) AS DOUBLE) / 1000000.0 AS density
         FROM fp ORDER BY doc_id""",

    // boundary positions w..n-1 where the rolling window hash divides
    // the target mean; final token always closes the last chunk
    "q115_cdc_chunk_dedup" ->
      s"""WITH tk AS (SELECT source, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
                      FROM documents),
              hw AS (SELECT source, t, len(t) AS n,
                            list_transform(range(1, len(t)-1),
                              i -> ${graft.functions.PortableHash
                                .duckdbMd5Long("t[i]||' '||t[i+1]||' '||t[i+2]", 15)}) AS h
                     FROM tk),
              bd AS (SELECT source, t, n,
                            list_append(list_filter(range(3, n),
                              i -> h[i-2] % 16 = 0), n) AS b
                     FROM hw),
              ch AS (SELECT source, unnest(list_transform(range(1, len(b)+1),
                              j -> ${graft.functions.PortableHash.duckdbMd5Long(
                                "array_to_string(list_slice(t, CASE WHEN j = 1 THEN 1 ELSE b[j-1]+1 END, b[j]), ' ')",
                                15)})) AS h2
                     FROM bd),
              sc AS (SELECT source, h2, count(*) AS c FROM ch GROUP BY 1, 2),
              ag AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_chunks,
                            CAST(count(*) AS BIGINT) AS n_distinct_chunks
                     FROM sc GROUP BY source),
              tok AS (SELECT source, CAST(sum(len(t)) AS BIGINT) AS n_tokens
                      FROM tk GROUP BY source)
         SELECT source, n_chunks, n_distinct_chunks,
                n_chunks - n_distinct_chunks AS n_dup_instances,
                CAST((n_distinct_chunks * 1000000) // n_chunks AS DOUBLE) / 1000000.0 AS dedup_ratio,
                CAST((n_tokens * 1000000) // n_chunks AS DOUBLE) / 1000000.0 AS mean_chunk_len
         FROM ag JOIN tok USING (source) ORDER BY source""",

    // min(doc_id) first-occurrence attribution over md5-60 5-shingles
    "q116_shingle_novelty" ->
      s"""WITH tk AS (SELECT doc_id, source, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
                      FROM documents),
              hx AS (SELECT doc_id, source,
                            list_distinct(list_transform(range(1, len(t)-3),
                              i -> ${graft.functions.PortableHash.duckdbMd5Long(
                                "t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]", 15)})) AS hset
                     FROM tk WHERE len(t) >= 5),
              sh AS (SELECT doc_id, source, unnest(hset) AS h FROM hx),
              fd AS (SELECT h, min(doc_id) AS fd FROM sh GROUP BY h),
              per AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS ns,
                             CAST(sum(CASE WHEN doc_id = fd THEN 1 ELSE 0 END) AS BIGINT) AS nv
                      FROM sh JOIN fd USING (h) GROUP BY doc_id, source)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(ns) AS BIGINT) AS n_shingles,
                CAST(sum(nv) AS BIGINT) AS n_novel,
                CAST((sum(nv) * 1000000) // sum(ns) AS DOUBLE) / 1000000.0 AS novelty
         FROM per GROUP BY source ORDER BY source""",

    // q93's train chain (v6 carries the merged vocabulary), apply join
    // rolled up per language instead of per doc
    "q117_bpe_fertility" ->
      s"""WITH ${bpeTrainCtes(6)},
              tokv AS (SELECT word,
                              CAST(len(enc) - len(replace(enc, chr(2), '')) AS BIGINT) AS n_sym
                       FROM v6),
              dw AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS tf
                     FROM (SELECT lang,
                                  unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS word
                           FROM documents)
                     GROUP BY lang, word)
         SELECT lang, CAST(sum(tf) AS BIGINT) AS n_words,
                CAST(sum(tf * coalesce(n_sym, len(word))) AS BIGINT) AS n_bpe_tokens,
                CAST((sum(tf * coalesce(n_sym, len(word))) * 1000000) // sum(tf) AS DOUBLE)
                  / 1000000.0 AS fertility
         FROM dw LEFT JOIN tokv USING (word)
         GROUP BY lang ORDER BY lang""",

    // the 5 greedy rounds unrolled as chained MATERIALIZED CTEs (the
    // q78/q87 pattern); winner = (gain DESC, doc_id) LIMIT 1 each round
    "q118_greedy_coverage" -> {
      val md5sh = graft.functions.PortableHash
        .duckdbMd5Long("t[i]||' '||t[i+1]||' '||t[i+2]", 15)
      def roundCtes(k: Int): String = {
        val prevSel = (1 until k).map(j => s"SELECT doc_id FROM s$j")
          .mkString(" UNION ALL ")
        val notSelected =
          if (k == 1) "" else s"WHERE doc_id NOT IN ($prevSel)"
        val uncovered =
          if (k == 1) "" else s"AND h NOT IN (SELECT h FROM c${k - 1})"
        val coveredPrev =
          if (k == 1) s"SELECT DISTINCT h FROM sh JOIN s1 USING (doc_id)"
          else s"SELECT h FROM c${k - 1} UNION " +
            s"SELECT h FROM sh JOIN s$k USING (doc_id)"
        s"""g$k AS MATERIALIZED (
                    SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM sh
                    $notSelected ${if (k == 1) "" else uncovered}
                    GROUP BY doc_id),
              s$k AS MATERIALIZED (
                    SELECT doc_id, gain FROM g$k
                    ORDER BY gain DESC, doc_id LIMIT 1),
              c$k AS MATERIALIZED ($coveredPrev)"""
      }
      s"""WITH tk AS (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
                      FROM documents),
              sh AS MATERIALIZED (
                    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
                      i -> $md5sh))) AS h
                    FROM tk WHERE len(t) >= 3),
              ${(1 to 5).map(roundCtes).mkString(",\n              ")}
         ${(1 to 5).map(k =>
        s"SELECT CAST($k AS INT) AS round, doc_id, gain, " +
          s"(SELECT CAST(count(*) AS BIGINT) FROM c$k) AS covered_total FROM s$k")
        .mkString(" UNION ALL ")}
         ORDER BY round"""
    },

    // percentile_disc by integer cross-multiplication over the
    // (source, length) partial aggregate — no float boundary anywhere
    "q119_length_deciles" ->
      s"""WITH n0 AS (SELECT source,
                             CAST(len(regexp_extract_all(text, '$bpePatternSql')) AS BIGINT) AS n
                      FROM documents),
              c AS (SELECT source, n, CAST(count(*) AS BIGINT) AS c FROM n0
                    GROUP BY source, n),
              cum AS (SELECT source, n,
                             sum(c) OVER (PARTITION BY source ORDER BY n) AS cum,
                             sum(c) OVER (PARTITION BY source) AS tot
                      FROM c),
              d AS (SELECT source, p, min(n) AS value
                    FROM cum CROSS JOIN (SELECT unnest(range(1, 10)) AS p)
                    WHERE cum * 10 >= p * tot GROUP BY source, p)
         SELECT source, CAST(p AS INT) AS decile, CAST(value AS BIGINT) AS value
         FROM d ORDER BY source, decile""",

    "q120_token_burstiness" ->
      """WITH dt AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM (
                       SELECT doc_id,
                              unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                       FROM documents)
                     GROUP BY doc_id, token),
              tk AS (SELECT token, CAST(count(*) AS BIGINT) AS df,
                            CAST(sum(tf) AS BIGINT) AS cf,
                            CAST(max(tf) AS BIGINT) AS max_tf
                     FROM dt GROUP BY token)
         SELECT token, df, cf, max_tf,
                CAST((cf * 1000000) // df AS DOUBLE) / 1000000.0 AS burstiness
         FROM tk ORDER BY cf DESC, token LIMIT 50""",

    "q121_good_turing" ->
      """WITH wc AS (SELECT word, CAST(count(*) AS BIGINT) AS r FROM (
                       SELECT unnest(list_transform(range(1, len(t)-1),
                                i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS word
                       FROM (SELECT string_split_regex(text, '[ \t\n\x0b\f\r]+') AS t
                             FROM documents))
                     GROUP BY word),
              nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM wc GROUP BY r)
         SELECT a.r, a.n_r, coalesce(b.n_r, 0) AS n_r1,
                CAST(((a.r + 1) * coalesce(b.n_r, 0) * 1000000) // a.n_r AS DOUBLE)
                  / 1000000.0 AS r_star
         FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
         WHERE a.r <= 10 ORDER BY a.r""",

    // both cdfs quantized to 1e-6 by integer division BEFORE the
    // difference — the statistic is defined on quantized cdfs
    "q122_length_ks_drift" ->
      s"""WITH n0 AS (SELECT source,
                             CAST(len(regexp_extract_all(text, '$bpePatternSql')) AS BIGINT) AS n
                      FROM documents),
              c AS (SELECT source, n, CAST(count(*) AS BIGINT) AS c FROM n0
                    GROUP BY source, n),
              sp AS (SELECT n, sum(c) AS cg FROM c GROUP BY n),
              sp2 AS (SELECT n, sum(cg) OVER (ORDER BY n) AS gcum,
                             (SELECT sum(c) FROM c) AS gtot
                      FROM sp),
              src AS (SELECT DISTINCT source FROM c),
              grid AS (SELECT source, n, gcum, gtot,
                              coalesce(sum(c.c) OVER (PARTITION BY source ORDER BY n), 0) AS cum
                       FROM src CROSS JOIN sp2 LEFT JOIN c USING (source, n)),
              tt AS (SELECT source, sum(c) AS tot FROM c GROUP BY source),
              df AS (SELECT g.source, n,
                            abs((cum * 1000000) // tot
                                - ((gcum - cum) * 1000000) // (gtot - tot)) AS diff
                     FROM grid g JOIN tt USING (source)),
              mx AS (SELECT source, max(diff) AS ksq FROM df GROUP BY source)
         SELECT df.source, CAST(min(n) AS BIGINT) AS n_at_max,
                CAST(max(df.diff) AS DOUBLE) / 1000000.0 AS ks
         FROM df JOIN mx USING (source) WHERE diff = ksq
         GROUP BY df.source ORDER BY df.source""",

    // all-integer pipeline over the floor(v*1024) bridge; // and div
    // agree because every operand is nonnegative
    "q123_int8_quantization" ->
      """WITH u AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                           unnest(embedding) AS v
                    FROM embeddings),
              q AS (SELECT vec_id, CAST(pos AS BIGINT) AS pos,
                           CAST(floor(CAST(v AS DOUBLE) * 1024.0) AS BIGINT) AS vq
                    FROM u),
              mm AS (SELECT pos, min(vq) AS qmin, max(vq) AS qmax FROM q GROUP BY pos),
              e AS (SELECT q.pos, qmin, qmax, vq,
                           ((vq - qmin) * 255) // greatest(qmax - qmin, 1) AS c
                    FROM q JOIN mm USING (pos)),
              e2 AS (SELECT pos, qmin, qmax,
                            vq - (qmin + (c * (qmax - qmin)) // 255) AS err
                     FROM e),
              r AS (SELECT pos, max(qmin) AS qmin, max(qmax) AS qmax,
                           CAST(count(*) AS BIGINT) AS n_vectors,
                           CAST(max(abs(err)) AS BIGINT) AS max_abs_err,
                           CAST(sum(err * err) AS BIGINT) AS sse
                    FROM e2 GROUP BY pos)
         SELECT pos, qmin, qmax, n_vectors, max_abs_err,
                CAST((sse * 1000000) // n_vectors AS DOUBLE) / 1000000.0 AS mse
         FROM r ORDER BY pos""",

    // deterministic md5-derived sign matrix; both distances exact ints
    "q124_jl_distortion" ->
      s"""WITH u AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                            unnest(embedding) AS v
                     FROM embeddings),
              q AS (SELECT vec_id, CAST(pos AS BIGINT) AS pos,
                           CAST(floor(CAST(v AS DOUBLE) * 1024.0) AS BIGINT) AS vq
                    FROM u),
              sg AS (SELECT p.pos, j.j,
                            CASE WHEN ${graft.functions.PortableHash.duckdbMd5Long(
                              "p.pos::VARCHAR || '_' || j.j::VARCHAR", 15)} % 2 = 0
                                 THEN 1 ELSE -1 END AS sgn
                     FROM (SELECT unnest(range(64)) AS pos) p
                     CROSS JOIN (SELECT unnest(range(16)) AS j) j),
              pr AS (SELECT vec_id, j, CAST(sum(sgn * vq) AS BIGINT) AS y
                     FROM q JOIN sg USING (pos) GROUP BY vec_id, j
                     HAVING vec_id < 16),
              dp AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                            CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2_proj
                     FROM pr a JOIN pr b ON a.j = b.j AND a.vec_id < b.vec_id
                     GROUP BY 1, 2),
              dq AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                            CAST(sum((a.vq - b.vq) * (a.vq - b.vq)) AS BIGINT) AS d2_orig
                     FROM q a JOIN q b ON a.pos = b.pos AND a.vec_id < b.vec_id
                     WHERE a.vec_id < 16 AND b.vec_id < 16
                     GROUP BY 1, 2)
         SELECT vec_a, vec_b, d2_orig, d2_proj,
                round(d2_proj / (d2_orig * 16.0), 6) AS distortion
         FROM dq JOIN dp USING (vec_a, vec_b)
         ORDER BY vec_a, vec_b""",

    // 63 * 2^60 folds to the same exact double constant both engines;
    // < k survivors falls back to the exact count, visibly
    "q125_kmv_cardinality" ->
      s"""WITH tk AS (SELECT source, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
                      FROM documents),
              sh AS (SELECT DISTINCT source, h FROM (
                       SELECT source,
                              unnest(list_transform(range(1, len(t)-1),
                                i -> ${graft.functions.PortableHash
                                  .duckdbMd5Long("t[i]||' '||t[i+1]||' '||t[i+2]", 15)})) AS h
                       FROM tk WHERE len(t) >= 3)),
              ex AS (SELECT source, CAST(count(*) AS BIGINT) AS d_exact FROM sh
                     GROUP BY source),
              sv AS (SELECT source, h,
                            row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                     FROM sh WHERE h < 144115188075855872),
              hk AS (SELECT source, CAST(count(*) AS BIGINT) AS n_survivors,
                            max(CASE WHEN rn = 64 THEN h END) AS h_k
                     FROM sv GROUP BY source),
              r AS (SELECT ex.source, d_exact,
                           coalesce(n_survivors, 0) AS n_survivors,
                           CASE WHEN h_k IS NOT NULL
                                THEN CAST(floor(63.0 * 1152921504606846976.0
                                                / CAST(h_k AS DOUBLE)) AS BIGINT)
                                ELSE d_exact END AS d_est
                    FROM ex LEFT JOIN hk ON ex.source = hk.source)
         SELECT source, d_exact, n_survivors, d_est,
                round(CAST(d_est - d_exact AS DOUBLE) / d_exact, 6) AS rel_err
         FROM r ORDER BY source""",

    // V_h = N_h*sum(y^2) - sum(y)^2 exact via HUGEINT (= the engine's
    // DECIMAL(38,0)); Hamilton rounding all-integer
    "q126_neyman_allocation" ->
      s"""WITH $neymanCtes
         SELECT source, n_docs, weight, n_alloc FROM alloc ORDER BY source""",

    // the allocation CTEs verbatim, then q88's single-window md5-order
    // prefix (the engine's two-level form equals it — ShardingSpec)
    "q128_neyman_sample" ->
      s"""WITH $neymanCtes,
              sdoc AS (SELECT doc_id, source,
                              CAST(len(regexp_extract_all(text, '$bpePatternSql')) AS BIGINT) AS nt,
                              md5(CAST(doc_id AS VARCHAR)) AS h
                       FROM documents),
              rked AS (SELECT sdoc.doc_id, sdoc.source, nt, n_alloc,
                              row_number() OVER (PARTITION BY sdoc.source
                                ORDER BY h, doc_id) AS rn
                       FROM sdoc JOIN alloc ON sdoc.source = alloc.source)
         SELECT source, CAST(max(n_alloc) AS BIGINT) AS n_alloc,
                CAST(count(*) AS BIGINT) AS n_sampled,
                CAST(sum(nt) AS BIGINT) AS n_tokens_sampled
         FROM rked WHERE rn <= n_alloc GROUP BY source ORDER BY source""",

    "q129_fd_profile" ->
      (Seq(
        ("documents", "lang", "source"), ("documents", "source", "lang"),
        ("events", "event_id", "event_type"), ("events", "user_id", "event_type"),
        ("orders", "o_orderkey", "o_orderstatus"))
        .map { case (tn, det, dep) => fdSql(tn, det, dep) }
        .mkString("", " UNION ALL ", " ORDER BY tbl, det, dep")),

    "q130_column_profile" ->
      (Seq("doc_id", "text", "lang", "source", "n_chars")
        .map(colProfileSql)
        .mkString("", " UNION ALL ", " ORDER BY column_name")),

    // identical expression tree; z=2 keeps every constant exact dyadic
    "q127_wilson_ranking" ->
      """WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS s
                    FROM events GROUP BY event_type),
              b AS (SELECT event_type, n, s, CAST(s AS DOUBLE) / n AS p FROM a)
         SELECT event_type, n, s, round(p, 6) AS p_hat,
                round((p + 2.0 / n - 2.0 * sqrt(p * (1.0 - p) / n + 1.0 / (n * n)))
                      / (1.0 + 4.0 / n), 6) AS wilson_lb
         FROM b ORDER BY wilson_lb DESC, event_type""",

    // one textual form of the log ratio; DECIMAL multiply exact
    "q131_ctfidf_keywords" ->
      """WITH tf AS (SELECT source, token, CAST(count(*) AS BIGINT) AS tf FROM (
                       SELECT source,
                              unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                       FROM documents)
                     GROUP BY source, token),
              ft AS (SELECT token, CAST(sum(tf) AS BIGINT) AS f FROM tf GROUP BY token),
              aa AS (SELECT CAST(sum(tf) AS BIGINT) // count(DISTINCT source) AS a FROM tf),
              sc AS (SELECT source, token, tf,
                            CAST(round(ln((f + a) * 1.0 / f), 6) AS DECIMAL(18,6)) * tf AS w
                     FROM tf JOIN ft USING (token) CROSS JOIN aa),
              rk AS (SELECT *, row_number() OVER (PARTITION BY source
                              ORDER BY w DESC, token) AS rank
                     FROM sc)
         SELECT source, CAST(rank AS INT) AS rank, token, tf,
                CAST(round(w, 6) AS DOUBLE) AS score
         FROM rk WHERE rank <= 5 ORDER BY source, rank""",

    // exact integer dots/norms via floor(v*1024); cosines rounded into
    // DECIMAL so margins subtract exactly; mean is one double division
    "q132_centroid_silhouette" ->
      """WITH u AS (SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos,
                           unnest(embedding) AS v
                    FROM embeddings),
              ev AS (SELECT vec_id, label, pos,
                            CAST(floor(CAST(v AS DOUBLE) * 1024.0) AS BIGINT) AS vq
                     FROM u),
              vn AS (SELECT vec_id, CAST(sum(vq * vq) AS BIGINT) AS vn2 FROM ev
                     GROUP BY vec_id),
              cs AS (SELECT label AS c_label, pos, CAST(sum(vq) AS BIGINT) AS sq
                     FROM ev GROUP BY label, pos),
              cn AS (SELECT c_label, CAST(sum(sq * sq) AS BIGINT) AS cn2 FROM cs
                     GROUP BY c_label),
              dt AS (SELECT vec_id, label, c_label, CAST(sum(vq * sq) AS BIGINT) AS dot
                     FROM ev JOIN cs USING (pos) GROUP BY vec_id, label, c_label),
              cd AS (SELECT vec_id, label, c_label,
                            CAST(round(dot / (sqrt(vn2) * sqrt(cn2)), 6)
                                 AS DECIMAL(18,6)) AS cos
                     FROM dt JOIN vn USING (vec_id) JOIN cn USING (c_label)),
              ab AS (SELECT vec_id, label,
                            max(CASE WHEN c_label = label THEN cos END) AS a,
                            max(CASE WHEN c_label != label THEN cos END) AS b
                     FROM cd GROUP BY vec_id, label)
         SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
                round(CAST(sum(a - b) AS DOUBLE) / count(*), 6) AS mean_margin,
                CAST(sum(CASE WHEN b > a THEN 1 ELSE 0 END) AS BIGINT) AS n_misassigned,
                CAST((CAST(sum(CASE WHEN b > a THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
                     // count(*) AS DOUBLE) / 1000000.0 AS misassign_frac
         FROM ab GROUP BY label ORDER BY label""",

    // |cum*D - i*total| all-integer; one division at the end
    "q133_cusum_changepoint" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events),
              dc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS c FROM e
                     GROUP BY event_type, day),
              tt AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS tot,
                            CAST(count(*) AS BIGINT) AS nd
                     FROM dc GROUP BY event_type),
              cu AS (SELECT dc.event_type, day,
                            CAST(row_number() OVER (PARTITION BY dc.event_type
                              ORDER BY day) AS BIGINT) AS i,
                            sum(c) OVER (PARTITION BY dc.event_type ORDER BY day) AS cum,
                            tot, nd
                     FROM dc JOIN tt ON dc.event_type = tt.event_type),
              ss AS (SELECT event_type, day, nd, abs(cum * nd - i * tot) AS sS FROM cu),
              mx AS (SELECT event_type, max(sS) AS mx FROM ss GROUP BY event_type)
         SELECT ss.event_type, max(nd) AS n_days, CAST(min(day) AS BIGINT) AS change_day,
                round(CAST(max(mx) AS DOUBLE) / max(nd), 6) AS cusum
         FROM ss JOIN mx ON ss.event_type = mx.event_type AND sS = mx
         GROUP BY ss.event_type ORDER BY ss.event_type""",

    // q119's integer cross-multiplied percentiles, then clip + exact sums
    "q134_winsorized_stats" ->
      s"""WITH n0 AS (SELECT source,
                             CAST(len(regexp_extract_all(text, '$bpePatternSql')) AS BIGINT) AS n
                      FROM documents),
              c AS (SELECT source, n, CAST(count(*) AS BIGINT) AS c FROM n0
                    GROUP BY source, n),
              cum AS (SELECT source, n,
                             sum(c) OVER (PARTITION BY source ORDER BY n) AS cum,
                             sum(c) OVER (PARTITION BY source) AS tot
                      FROM c),
              p5 AS (SELECT source, min(n) AS p05 FROM cum WHERE cum * 100 >= tot * 5
                     GROUP BY source),
              p95 AS (SELECT source, min(n) AS p95 FROM cum WHERE cum * 100 >= tot * 95
                      GROUP BY source),
              cl AS (SELECT n0.source, n, p05, p95,
                            least(greatest(n, p05), p95) AS cl
                     FROM n0 JOIN p5 ON n0.source = p5.source
                             JOIN p95 ON n0.source = p95.source)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                max(p05) AS p05, max(p95) AS p95,
                CAST(sum(CASE WHEN n < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
                CAST(sum(CASE WHEN n > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
                CAST((CAST(sum(cl) AS BIGINT) * 1000000) // count(*) AS DOUBLE)
                  / 1000000.0 AS win_mean
         FROM cl GROUP BY source ORDER BY source""",

    // -p*log2(p) terms from identical integer ratios, DECIMAL-summed
    "q135_char_entropy" ->
      """WITH ch AS (SELECT source, ch, CAST(count(*) AS BIGINT) AS c FROM (
                       SELECT source, unnest(string_split_regex(text, '')) AS ch
                       FROM documents)
                     GROUP BY source, ch),
              tt AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot,
                            CAST(count(*) AS BIGINT) AS n_distinct_chars
                     FROM ch GROUP BY source),
              tm AS (SELECT ch.source, tot, n_distinct_chars,
                            CAST(round(-(c * 1.0 / tot) * log2(c * 1.0 / tot), 6)
                                 AS DECIMAL(18,6)) AS term
                     FROM ch JOIN tt ON ch.source = tt.source)
         SELECT source, max(tot) AS n_chars, max(n_distinct_chars) AS n_distinct_chars,
                CAST(round(sum(term), 6) AS DOUBLE) AS entropy
         FROM tm GROUP BY source ORDER BY source""",

    // q43's edge CTE verbatim; 4 peel rounds unrolled MATERIALIZED
    "q136_kcore_peeling" -> {
      def peel(k: Int): String = {
        val prev = s"e${k - 1}"
        s"""d$k AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
                      SELECT a AS v FROM $prev UNION ALL SELECT b FROM $prev) t$k
                    GROUP BY v),
              k$k AS MATERIALIZED (SELECT v FROM d$k WHERE deg >= 2),
              e$k AS MATERIALIZED (SELECT a, b FROM $prev
                    WHERE a IN (SELECT v FROM k$k) AND b IN (SELECT v FROM k$k))"""
      }
      s"""WITH $minhashPairsCte,
              e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM v
                    WHERE jaccard >= 0.5),
              ${(1 to 4).map(peel).mkString(",\n              ")}
         SELECT CAST(0 AS INT) AS round,
                (SELECT CAST(count(DISTINCT vv) AS BIGINT) FROM (
                   SELECT a AS vv FROM e0 UNION ALL SELECT b FROM e0) t0) AS n_nodes,
                (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges
         ${(1 to 4).map(k =>
        s"UNION ALL SELECT $k, (SELECT CAST(count(*) AS BIGINT) FROM k$k), " +
          s"(SELECT CAST(count(*) AS BIGINT) FROM e$k)").mkString(" ")}
         ORDER BY round"""
    },

    // every log argument a ratio of identical integers; terms
    // DECIMAL-summed; the one division on doubles at the end
    "q137_mutual_information" ->
      """WITH xy AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS cxy
                     FROM documents GROUP BY lang, source),
              cx AS (SELECT lang, CAST(sum(cxy) AS BIGINT) AS cx FROM xy GROUP BY lang),
              cy AS (SELECT source, CAST(sum(cxy) AS BIGINT) AS cy FROM xy GROUP BY source),
              nn AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM xy),
              tm AS (SELECT CAST(round((cxy * 1.0 / n) *
                              log2(n * 1.0 * cxy / (cx * cy)), 6)
                            AS DECIMAL(18,6)) AS mi_term
                     FROM xy JOIN cx USING (lang) JOIN cy USING (source) CROSS JOIN nn),
              hx AS (SELECT sum(CAST(round(-(cx * 1.0 / n) * log2(cx * 1.0 / n), 6)
                                AS DECIMAL(18,6))) AS h_lang_dec
                     FROM cx CROSS JOIN nn),
              hy AS (SELECT sum(CAST(round(-(cy * 1.0 / n) * log2(cy * 1.0 / n), 6)
                                AS DECIMAL(18,6))) AS h_source_dec
                     FROM cy CROSS JOIN nn),
              ag AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, sum(mi_term) AS mi_dec
                     FROM tm)
         SELECT n_cells, CAST(round(mi_dec, 6) AS DOUBLE) AS mi,
                CAST(round(h_lang_dec, 6) AS DOUBLE) AS h_lang,
                CAST(round(h_source_dec, 6) AS DOUBLE) AS h_source,
                round(CAST(mi_dec AS DOUBLE) / CAST(h_lang_dec AS DOUBLE), 6)
                  AS uncertainty_coef
         FROM ag CROSS JOIN hx CROSS JOIN hy ORDER BY n_cells""",

    // the 4 power-iteration rounds unrolled; every step HUGEINT-exact,
    // sign-split truncating normalization; doubles only at the end
    "q138_power_iteration_pca" -> {
      def round(k: Int): String = {
        val prev = if (k == 1) "x0" else s"x${k - 1}"
        s"""y$k AS (SELECT p, sum(c * xs) AS ys FROM cc JOIN $prev USING (q)
                    GROUP BY p),
              mx$k AS (SELECT max(abs(ys)) AS mm FROM y$k),
              x$k AS MATERIALIZED (
                    SELECT p AS q,
                           CASE WHEN ys < 0 THEN -1 ELSE 1 END *
                             ((abs(ys) * 1000000) // mm) AS xs
                    FROM y$k CROSS JOIN mx$k)"""
      }
      s"""WITH u AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                            unnest(embedding) AS v
                     FROM embeddings),
              ev AS (SELECT vec_id, pos,
                            CAST(floor(CAST(v AS DOUBLE) * 1024.0) AS BIGINT) AS vq
                     FROM u),
              sp AS (SELECT pos, CAST(sum(vq) AS HUGEINT) AS sv FROM ev GROUP BY pos),
              nn AS (SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n FROM ev),
              m2 AS (SELECT a.pos AS p, b.pos AS q,
                            CAST(sum(a.vq * b.vq) AS HUGEINT) AS m
                     FROM ev a JOIN ev b ON a.vec_id = b.vec_id
                     GROUP BY a.pos, b.pos),
              cc AS MATERIALIZED (
                    SELECT p, q, n * m - sa.sv * sb.sv AS c
                    FROM m2 JOIN sp sa ON m2.p = sa.pos
                            JOIN sp sb ON m2.q = sb.pos
                    CROSS JOIN nn),
              x0 AS (SELECT unnest(range(64)) AS q, CAST(1000000 AS HUGEINT) AS xs),
              ${(1 to 4).map(round).mkString(",\n              ")},
              nm AS (SELECT sum(b.xs * c * a.xs) AS num
                     FROM cc JOIN x4 a ON cc.q = a.q JOIN x4 b ON cc.p = b.q),
              dn AS (SELECT sum(xs * xs) AS den FROM x4)
         SELECT CAST(q AS BIGINT) AS pos, CAST(xs AS DOUBLE) / 1000000.0 AS loading,
                round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) AS eigval
         FROM x4 CROSS JOIN nm CROSS JOIN dn ORDER BY pos"""
    },

    // q138's unroll + 4 PC2 rounds, each normalize followed by the
    // sign-split orthogonalization against the frozen x4 = u1
    "q187_pca_deflation" -> {
      def round1(k: Int): String = {
        val prev = if (k == 1) "x0" else s"x${k - 1}"
        s"""y$k AS (SELECT p, sum(c * xs) AS ys FROM cc JOIN $prev USING (q)
                    GROUP BY p),
              mx$k AS (SELECT max(abs(ys)) AS mm FROM y$k),
              x$k AS MATERIALIZED (
                    SELECT p AS q,
                           CASE WHEN ys < 0 THEN -1 ELSE 1 END *
                             ((abs(ys) * 1000000) // mm) AS xs
                    FROM y$k CROSS JOIN mx$k)"""
      }
      def round2(k: Int): String = {
        val prev = if (k == 1) "z0" else s"z${k - 1}"
        s"""w$k AS (SELECT p, sum(c * xs) AS ys FROM cc JOIN $prev USING (q)
                    GROUP BY p),
              wm$k AS (SELECT max(abs(ys)) AS mm FROM w$k),
              wn$k AS (SELECT p AS q,
                              CASE WHEN ys < 0 THEN -1 ELSE 1 END *
                                ((abs(ys) * 1000000) // mm) AS xs
                       FROM w$k CROSS JOIN wm$k),
              dq$k AS (SELECT sum(u.xs * w.xs) AS dq
                       FROM x4 u JOIN wn$k w USING (q)),
              z$k AS MATERIALIZED (
                    SELECT w.q,
                           w.xs - (CASE WHEN dq * u.xs < 0 THEN -1 ELSE 1 END) *
                                  (abs(dq * u.xs) // uu) AS xs
                    FROM wn$k w JOIN x4 u USING (q)
                    CROSS JOIN dq$k CROSS JOIN uuv)"""
      }
      s"""WITH u AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                            unnest(embedding) AS v
                     FROM embeddings),
              ev AS (SELECT vec_id, pos,
                            CAST(floor(CAST(v AS DOUBLE) * 1024.0) AS BIGINT) AS vq
                     FROM u),
              sp AS (SELECT pos, CAST(sum(vq) AS HUGEINT) AS sv FROM ev GROUP BY pos),
              nn AS (SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n FROM ev),
              m2 AS (SELECT a.pos AS p, b.pos AS q,
                            CAST(sum(a.vq * b.vq) AS HUGEINT) AS m
                     FROM ev a JOIN ev b ON a.vec_id = b.vec_id
                     GROUP BY a.pos, b.pos),
              cc AS MATERIALIZED (
                    SELECT p, q, n * m - sa.sv * sb.sv AS c
                    FROM m2 JOIN sp sa ON m2.p = sa.pos
                            JOIN sp sb ON m2.q = sb.pos
                    CROSS JOIN nn),
              x0 AS (SELECT unnest(range(64)) AS q, CAST(1000000 AS HUGEINT) AS xs),
              ${(1 to 4).map(round1).mkString(",\n              ")},
              nm1 AS (SELECT sum(b.xs * c * a.xs) AS num
                      FROM cc JOIN x4 a ON cc.q = a.q JOIN x4 b ON cc.p = b.q),
              dn1 AS (SELECT sum(xs * xs) AS den FROM x4),
              uuv AS (SELECT sum(xs * xs) AS uu FROM x4),
              z0 AS (SELECT unnest(range(64)) AS q, CAST(1000000 AS HUGEINT) AS xs),
              ${(1 to 4).map(round2).mkString(",\n              ")},
              nm2 AS (SELECT sum(b.xs * c * a.xs) AS num
                      FROM cc JOIN z4 a ON cc.q = a.q JOIN z4 b ON cc.p = b.q),
              dn2 AS (SELECT sum(xs * xs) AS den FROM z4)
         SELECT * FROM (
           SELECT CAST(1 AS INT) AS component, CAST(q AS BIGINT) AS pos,
                  CAST(xs AS DOUBLE) / 1000000.0 AS loading,
                  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) AS eigval
           FROM x4 CROSS JOIN nm1 CROSS JOIN dn1
           UNION ALL
           SELECT CAST(2 AS INT) AS component, CAST(q AS BIGINT) AS pos,
                  CAST(xs AS DOUBLE) / 1000000.0 AS loading,
                  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) AS eigval
           FROM z4 CROSS JOIN nm2 CROSS JOIN dn2)
         ORDER BY component, pos"""
    },

    // same Scala-computed Benford literals interpolated both engines
    "q139_benford_digits" -> {
      val bvals = (1 to 9)
        .map(dd => s"($dd, ${math.round(math.log10(1.0 + 1.0 / dd) * 1e6)})")
        .mkString(", ")
      s"""WITH vc AS (SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
                      FROM events),
              dg AS (SELECT CAST(substr(CAST(vc AS VARCHAR), 1, 1) AS INT) AS digit
                     FROM vc WHERE vc > 0),
              cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM dg
                      GROUP BY digit),
              tt AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM dg),
              bf(digit, benford_scaled) AS (SELECT * FROM (VALUES $bvals))
         SELECT cnt.digit, n,
                CAST((n * 1000000) // tot AS DOUBLE) / 1000000.0 AS p,
                CAST(benford_scaled AS DOUBLE) / 1000000.0 AS benford_p,
                CAST(abs((n * 1000000) // tot - benford_scaled) AS BIGINT) AS dev_scaled
         FROM cnt CROSS JOIN tt JOIN bf ON cnt.digit = bf.digit
         ORDER BY cnt.digit"""
    },

    // q30/q31's CTEs composed; the anti-join isolates what banding lost
    "q140_lsh_recall_audit" ->
      s"""WITH e AS (SELECT vec_id, embedding,
                     list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1024.0) AS BIGINT)) AS q
                FROM embeddings),
              bk AS (SELECT vec_id, ${annBucketsSql(24, 4, 64)} AS bks FROM e),
              tb AS (SELECT vec_id, unnest(range(24)) AS tbl, unnest(bks) AS bucket
                     FROM bk),
              cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
                       FROM tb l JOIN tb r ON l.tbl = r.tbl AND l.bucket = r.bucket
                                          AND l.vec_id < r.vec_id),
              lsh AS (SELECT id_a, id_b FROM (
                        SELECT id_a, id_b,
                               ${dot("x.embedding", "y.embedding")} /
                               (sqrt(${dot("x.embedding", "x.embedding")}) *
                                sqrt(${dot("y.embedding", "y.embedding")})) AS cos
                        FROM cand JOIN e x ON id_a = x.vec_id
                                  JOIN e y ON id_b = y.vec_id) t
                      WHERE cos >= 0.4),
              exct AS (SELECT id_a, id_b, CAST(round(cos, 4) AS DECIMAL(18,4)) AS cos4
                       FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                                    ${dot("a.embedding", "b.embedding")} /
                                    (sqrt(${dot("a.embedding", "a.embedding")}) *
                                     sqrt(${dot("b.embedding", "b.embedding")})) AS cos
                             FROM embeddings a JOIN embeddings b
                               ON a.vec_id < b.vec_id) t
                       WHERE cos >= 0.4),
              ms AS (SELECT cos4 FROM exct WHERE NOT EXISTS (
                       SELECT 1 FROM lsh
                       WHERE lsh.id_a = exct.id_a AND lsh.id_b = exct.id_b)),
              ag AS (SELECT CAST(count(*) AS BIGINT) AS n_missed, sum(cos4) AS smc
                     FROM ms),
              ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exct),
              nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM lsh)
         SELECT n_exact, n_lsh, n_missed,
                CASE WHEN n_exact = 0 THEN 0.0
                     ELSE CAST(((n_exact - n_missed) * 1000000) // n_exact AS DOUBLE)
                          / 1000000.0 END AS recall,
                CASE WHEN n_missed = 0 THEN 0.0
                     ELSE CAST(CAST(smc * 10000 AS BIGINT) // n_missed AS DOUBLE)
                          / 10000.0 END AS mean_missed_cos
         FROM ag CROSS JOIN ne CROSS JOIN nl ORDER BY n_exact""",

    "q141_hill_tail_index" ->
      """WITH tf AS (SELECT token, CAST(count(*) AS BIGINT) AS f FROM (
                       SELECT unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                       FROM documents)
                     GROUP BY token),
              top AS (SELECT token, f, row_number() OVER (ORDER BY f DESC, token) AS r
                      FROM (SELECT * FROM tf ORDER BY f DESC, token LIMIT 21) t),
              fr AS (SELECT f AS fk FROM top WHERE r = 21),
              tm AS (SELECT CAST(round(ln(f * 1.0 / fk), 6) AS DECIMAL(18,6)) AS term
                     FROM top CROSS JOIN fr WHERE r <= 20)
         SELECT CAST(20 AS INT) AS k,
                CAST(round(sum(term), 6) AS DOUBLE) AS sum_log_ratio,
                round(CAST(count(*) AS DOUBLE) / CAST(sum(term) AS DOUBLE), 6) AS alpha_hat
         FROM tm ORDER BY k""",

    // min(nibble) IS the first-occurrence bucket; cumulative over 16 rows
    "q142_coverage_curve" ->
      s"""WITH tk AS (SELECT doc_id,
                             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))::BIGINT AS INT) AS nib,
                             string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
                      FROM documents),
              sh AS (SELECT doc_id, nib,
                            unnest(list_distinct(list_transform(range(1, len(t)-1),
                              i -> ${graft.functions.PortableHash
                                .duckdbMd5Long("t[i]||' '||t[i+1]||' '||t[i+2]", 15)}))) AS h
                     FROM tk WHERE len(t) >= 3),
              dp AS (SELECT nib, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
                     FROM sh GROUP BY nib),
              fn AS (SELECT nib, CAST(count(*) AS BIGINT) AS new_shingles FROM (
                       SELECT h, min(nib) AS nib FROM sh GROUP BY h) t
                     GROUP BY nib),
              rr AS (SELECT dp.nib, n_docs, coalesce(new_shingles, 0) AS new_shingles
                     FROM dp LEFT JOIN fn ON dp.nib = fn.nib)
         SELECT nib, n_docs, new_shingles,
                CAST(sum(n_docs) OVER (ORDER BY nib) AS BIGINT) AS cum_docs,
                CAST(sum(new_shingles) OVER (ORDER BY nib) AS BIGINT) AS cum_shingles
         FROM rr ORDER BY nib""",

    // micro-quantized means, add-one p; md5 pseudo-permutations
    "q143_permutation_test" ->
      s"""WITH y AS (SELECT doc_id, source,
                            CAST(len(regexp_extract_all(text, '$bpePatternSql')) AS BIGINT) AS n
                     FROM documents),
              gl AS (SELECT CAST(sum(n) AS BIGINT) AS gs, CAST(count(*) AS BIGINT) AS gn
                     FROM y),
              ob AS (SELECT source, CAST(sum(n) AS BIGINT) AS sa,
                            CAST(count(*) AS BIGINT) AS na
                     FROM y GROUP BY source),
              od AS (SELECT source, na,
                            abs((sa * 1000000) // na - ((gs - sa) * 1000000) // (gn - na)) AS obs_diff
                     FROM ob CROSS JOIN gl),
              pm AS (SELECT k, CAST(sum(n) AS BIGINT) AS pa, CAST(count(*) AS BIGINT) AS pn
                     FROM (SELECT doc_id, n, unnest(range(1, 21)) AS k FROM y) e
                     WHERE ${graft.functions.PortableHash
                       .duckdbMd5Long("e.doc_id::VARCHAR || '_' || e.k::VARCHAR", 15)} % 20 = 0
                     GROUP BY k),
              pd AS (SELECT k,
                            abs((pa * 1000000) // pn - ((gs - pa) * 1000000) // (gn - pn)) AS perm_diff
                     FROM pm CROSS JOIN gl)
         SELECT source, na AS n_docs,
                CAST(obs_diff AS DOUBLE) / 1000000.0 AS obs_diff,
                CAST(((sum(CASE WHEN perm_diff >= obs_diff THEN 1 ELSE 0 END) + 1)
                      * 1000000) // 21 AS DOUBLE) / 1000000.0 AS p_value
         FROM od CROSS JOIN pd
         GROUP BY source, na, obs_diff ORDER BY source""",

    // q26/q43's pair + recursive-component CTEs; q116's min-combine
    "q144_deletion_impact" ->
      s"""WITH RECURSIVE $minhashPairsCte,
              p AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
              edges AS (SELECT doc_a AS a, doc_b AS b FROM p
                        UNION SELECT doc_b, doc_a FROM p),
              reach(src, dst) AS (
                SELECT a, a FROM edges
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
              cl AS (SELECT src AS doc_id, min(dst) AS cluster_id
                     FROM reach GROUP BY src),
              shd AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-3),
                             i -> ${graft.functions.PortableHash.duckdbMd5Long(
                               "t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]", 15)}))) AS h
                      FROM tk WHERE len(t) >= 5),
              sa AS (SELECT h, min(doc_id) AS fd,
                            max(CASE WHEN doc_id % 101 != 0 THEN 1 ELSE 0 END) AS has_surv
                     FROM shd GROUP BY h),
              nd AS (SELECT CAST(count(*) AS BIGINT) AS n_deleted FROM documents
                     WHERE doc_id % 101 = 0),
              ph AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_hit FROM p
                     WHERE doc_a % 101 = 0 OR doc_b % 101 = 0),
              chh AS (SELECT CAST(sum(hit) AS BIGINT) AS n_clusters_hit FROM (
                       SELECT cluster_id,
                              max(CASE WHEN doc_id % 101 = 0 THEN 1 ELSE 0 END) AS hit
                       FROM cl GROUP BY cluster_id) t),
              rl AS (SELECT CAST(count(*) AS BIGINT) AS n_reps_lost FROM (
                       SELECT DISTINCT cluster_id FROM cl) t
                     WHERE cluster_id % 101 = 0),
              sg AS (SELECT CAST(sum(CASE WHEN has_surv = 0 THEN 1 ELSE 0 END) AS BIGINT)
                              AS n_shingles_retired,
                            CAST(sum(CASE WHEN fd % 101 = 0 AND has_surv = 1
                                          THEN 1 ELSE 0 END) AS BIGINT)
                              AS n_shingles_reattributed
                     FROM sa)
         SELECT n_deleted, n_pairs_hit, n_clusters_hit, n_reps_lost,
                n_shingles_retired, n_shingles_reattributed
         FROM nd CROSS JOIN ph CROSS JOIN chh CROSS JOIN rl CROSS JOIN sg
         ORDER BY n_deleted""",

    // THE FULL RECOMPUTE on the surviving corpus — deliberately NOT the
    // incremental algorithm: cross-engine equality with Spark's
    // Dedup.rtbfApply is the incremental==full proof, re-run at every
    // gate. Pair existence depends only on the two endpoint docs, so
    // filtering pre-deletion pairs to surviving endpoints equals
    // re-banding the surviving corpus.
    "q151_rtbf_apply" ->
      s"""WITH RECURSIVE $minhashPairsCte,
              p AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5
                    AND doc_a % 101 <> 0 AND doc_b % 101 <> 0),
              surv AS (SELECT doc_id FROM documents WHERE doc_id % 101 <> 0),
              edges AS (SELECT doc_a AS a, doc_b AS b FROM p
                        UNION SELECT doc_b, doc_a FROM p),
              reach(src, dst) AS (
                SELECT a, a FROM edges
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
              cl AS (SELECT src AS doc_id, min(dst) AS cluster_id
                     FROM reach GROUP BY src),
              cf AS (SELECT s.doc_id, COALESCE(cl.cluster_id, s.doc_id) AS cluster_id
                     FROM surv s LEFT JOIN cl ON s.doc_id = cl.doc_id),
              shd AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-3),
                             i -> ${graft.functions.PortableHash.duckdbMd5Long(
                               "t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]", 15)}))) AS h
                      FROM tk WHERE len(t) >= 5 AND doc_id % 101 <> 0),
              fo AS (SELECT h, min(doc_id) AS fd FROM shd GROUP BY h),
              pf AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS n_first_shingles
                     FROM fo GROUP BY fd)
         SELECT cf.doc_id, cf.cluster_id,
                COALESCE(pf.n_first_shingles, CAST(0 AS BIGINT)) AS n_first_shingles
         FROM cf LEFT JOIN pf ON cf.doc_id = pf.doc_id
         ORDER BY cf.doc_id""",

    // complement-trick per-fold centroids; q65's exact-dot argmax
    "q145_crossval_centroid" ->
      s"""WITH u AS (SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos,
                            unnest(embedding) AS v
                     FROM embeddings),
              ev AS (SELECT vec_id, label,
                            CAST(${graft.functions.PortableHash
                              .duckdbMd5Long("vec_id::VARCHAR", 15)} % 5 AS INT) AS fold,
                            pos, CAST(floor(CAST(v AS DOUBLE) * 1024.0) AS BIGINT) AS vq
                     FROM u),
              pf AS (SELECT fold, label, pos, CAST(sum(vq) AS BIGINT) AS sf,
                            CAST(count(*) AS BIGINT) AS nf
                     FROM ev GROUP BY fold, label, pos),
              tt AS (SELECT label, pos, CAST(sum(sf) AS BIGINT) AS st,
                            CAST(sum(nf) AS BIGINT) AS nt
                     FROM pf GROUP BY label, pos),
              tr AS (SELECT fold, pf.label AS c_label, pf.pos, st - sf AS sq,
                            nt - nf AS n_c
                     FROM pf JOIN tt ON pf.label = tt.label AND pf.pos = tt.pos
                     WHERE nt - nf > 0),
              dt AS (SELECT vec_id, ev.fold, ev.label, c_label, n_c,
                            CAST(sum(vq * sq) AS BIGINT) AS dot
                     FROM ev JOIN tr ON ev.fold = tr.fold AND ev.pos = tr.pos
                     GROUP BY vec_id, ev.fold, ev.label, c_label, n_c),
              rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                              ORDER BY CAST(dot AS DOUBLE) / n_c DESC, c_label) AS rnk
                     FROM dt),
              w AS (SELECT fold, label, c_label FROM rk WHERE rnk = 1)
         SELECT fold, CAST(count(*) AS BIGINT) AS n_test,
                CAST(sum(CASE WHEN label = c_label THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_correct,
                CAST((CAST(sum(CASE WHEN label = c_label THEN 1 ELSE 0 END) AS BIGINT)
                      * 1000000) // count(*) AS DOUBLE) / 1000000.0 AS accuracy
         FROM w GROUP BY fold ORDER BY fold""",

    // q43's cluster CTEs; per-doc truncating division, order-free sums
    "q146_effective_size" ->
      s"""WITH RECURSIVE $minhashPairsCte,
              p AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
              edges AS (SELECT doc_a AS a, doc_b AS b FROM p
                        UNION SELECT doc_b, doc_a FROM p),
              reach(src, dst) AS (
                SELECT a, a FROM edges
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
              cl AS (SELECT src AS doc_id, min(dst) AS cluster_id
                     FROM reach GROUP BY src),
              cz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csz FROM cl
                     GROUP BY cluster_id),
              dn AS (SELECT doc_id, source,
                            CAST(len(regexp_extract_all(text, '$bpePatternSql')) AS BIGINT) AS n
                     FROM documents),
              wz AS (SELECT dn.source, n, coalesce(csz, 1) AS csz
                     FROM dn LEFT JOIN (SELECT cl.doc_id, csz FROM cl
                                        JOIN cz USING (cluster_id)) m
                       ON dn.doc_id = m.doc_id)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n) AS BIGINT) AS raw_tokens,
                CAST(CAST(sum((n * 1000000) // csz) AS BIGINT) AS DOUBLE)
                  / 1000000.0 AS effective_tokens
         FROM wz GROUP BY source ORDER BY source""",

    // q23's langid CTE aggregated into the confusion matrix
    "q147_langid_confusion" ->
      """WITH h AS (SELECT lang,
                (len(string_split(' '||text||' ', ' the '))-1) +
                (len(string_split(' '||text||' ', ' a '))-1) +
                (len(string_split(' '||text||' ', ' of '))-1) AS en,
                (len(string_split(' '||text||' ', ' der '))-1) +
                (len(string_split(' '||text||' ', ' und '))-1) +
                (len(string_split(' '||text||' ', ' die '))-1) AS de,
                (len(string_split(' '||text||' ', ' el '))-1) +
                (len(string_split(' '||text||' ', ' la '))-1) +
                (len(string_split(' '||text||' ', ' los '))-1) AS es,
                (len(string_split(' '||text||' ', ' le '))-1) +
                (len(string_split(' '||text||' ', ' les '))-1) +
                (len(string_split(' '||text||' ', ' des '))-1) AS fr
           FROM documents),
              pr AS (SELECT lang,
                CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
                     WHEN en >= greatest(de, es, fr) THEN 'en'
                     WHEN de >= greatest(es, fr) THEN 'de'
                     WHEN es >= fr THEN 'es'
                     ELSE 'fr' END AS pred
           FROM h),
              cm AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS n FROM pr
                     GROUP BY lang, pred),
              tt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tot FROM cm
                     GROUP BY lang)
         SELECT cm.lang, pred, n,
                CAST((n * 1000000) // tot AS DOUBLE) / 1000000.0 AS frac
         FROM cm JOIN tt ON cm.lang = tt.lang
         ORDER BY cm.lang, pred""",

    "q148_vocab_coverage" ->
      """WITH ws AS (SELECT source,
                            unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS w
                     FROM documents),
              v AS (SELECT w FROM (
                      SELECT w, count(*) AS f FROM ws GROUP BY w
                      ORDER BY f DESC, w LIMIT 16) t),
              j AS (SELECT source,
                           CASE WHEN ws.w IN (SELECT w FROM v) THEN 0 ELSE 1 END AS oov
                    FROM ws)
         SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(oov) AS BIGINT) AS n_oov,
                CAST((CAST(sum(oov) AS BIGINT) * 1000000) // count(*) AS DOUBLE)
                  / 1000000.0 AS oov_frac
         FROM j GROUP BY source ORDER BY source""",

    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""",

    "q02_filter_prefix_range" ->
      """SELECT event_id, event_type, value FROM events
         WHERE event_type LIKE 's%' AND value >= 50 AND value <= 150 ORDER BY event_id""",

    "q03_project_rename" ->
      """SELECT o_orderkey AS okey, o_totalprice AS price, upper(o_orderstatus) AS status
         FROM orders ORDER BY okey""",

    "q04_join_broadcast_star" ->
      """SELECT r_name, n_name, count(*) AS n,
                CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q05_interval_join" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
              s AS (SELECT user_id, min(us) AS start, (min(us)+max(us))/2 AS mid
                    FROM e GROUP BY user_id)
         SELECT e.user_id, count(*) AS n_in_span,
                CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM e JOIN s ON e.user_id = s.user_id AND e.us >= s.start AND e.us < s.mid
         GROUP BY e.user_id ORDER BY e.user_id""",

    "q06_union_distinct" ->
      """SELECT nationkey, count(*) AS n_sources FROM (
           SELECT DISTINCT c_nationkey AS nationkey FROM customer
           UNION ALL
           SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
         GROUP BY nationkey ORDER BY nationkey""",

    "q07_agg_group_counts" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                count(DISTINCT l_orderkey) AS n_orders
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q08_count_distinct_per_group" ->
      """SELECT user_id, count(*) AS n, count(DISTINCT event_type) AS n_types,
                count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q09_avg_minmax" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_price,
                min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q10_class_entropy" ->
      s"""WITH c AS (SELECT user_id,
                CAST(sum($clsSql) AS BIGINT) AS n_ano,
                CAST(sum(1 - ($clsSql)) AS BIGINT) AS n_ref
           FROM events GROUP BY user_id)
         SELECT user_id, n_ano, n_ref, round($ceSql, 6) AS class_entropy
         FROM c WHERE n_ano > 0 AND n_ref > 0 ORDER BY user_id""",

    "q11_seg_entropy" ->
      s"""WITH e AS (SELECT user_id, value + event_id*1e-6 AS v, $clsSql AS cls FROM events),
              agg AS (SELECT user_id, CAST(sum(cls) AS BIGINT) AS n_ano,
                             CAST(sum(1-cls) AS BIGINT) AS n_ref, count(*) AS n
                      FROM e GROUP BY user_id),
              ok AS (SELECT * FROM agg WHERE n_ano > 0 AND n_ref > 0),
              o AS (SELECT e.user_id, e.cls,
                           row_number() OVER (PARTITION BY e.user_id ORDER BY e.v, e.cls) AS rn
                    FROM e JOIN ok ON e.user_id = ok.user_id),
              chg AS (SELECT user_id, cls, rn,
                             CASE WHEN cls <> lag(cls) OVER (PARTITION BY user_id ORDER BY rn)
                                  THEN 1 ELSE 0 END AS is_new
                      FROM o),
              sg AS (SELECT user_id, cls, rn,
                            sum(is_new) OVER (PARTITION BY user_id ORDER BY rn
                                              ROWS UNBOUNDED PRECEDING) AS seg_id
                     FROM chg),
              segs AS (SELECT user_id, seg_id, count(*) AS seg_len FROM sg GROUP BY user_id, seg_id),
              segs2 AS (SELECT s.*, max(seg_id) OVER (PARTITION BY user_id) AS last_seg FROM segs s),
              se AS (SELECT s.user_id,
                            coalesce(sum(CASE WHEN s.seg_id <> s.last_seg
                              THEN (s.seg_len*1.0/a.n) * ln(1.0/(s.seg_len*1.0/a.n)) END), 0.0) AS seg_ent
                     FROM segs2 s JOIN ok a ON s.user_id = a.user_id
                     GROUP BY s.user_id)
         SELECT a.user_id, a.n_ano, a.n_ref,
                round($ceSql, 6) AS class_entropy,
                round(se.seg_ent, 6) AS segmentation_entropy,
                round(CASE WHEN se.seg_ent = 0.0 THEN 1.0/0.0 ELSE ($ceSql)/se.seg_ent END, 6) AS reward
         FROM ok a JOIN se ON a.user_id = se.user_id ORDER BY a.user_id""",

    "q12_window_lag_leap" ->
      """WITH w AS (SELECT l_orderkey, l_extendedprice,
                lag(l_extendedprice) OVER (PARTITION BY l_orderkey
                  ORDER BY l_extendedprice DESC, l_linenumber) AS prev
           FROM lineitem)
         SELECT l_orderkey, count(*) AS n_items,
                round(max(prev - l_extendedprice), 6) AS max_leap
         FROM w GROUP BY l_orderkey HAVING count(*) >= 2 ORDER BY l_orderkey""",

    "q13_leap_cutoff" ->
      """WITH w AS (SELECT l_orderkey, l_linenumber, l_extendedprice AS reward,
                row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS rank,
                lag(l_extendedprice) OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS prev
           FROM lineitem),
              x AS (SELECT *, prev - reward AS leap FROM w),
              y AS (SELECT *, max(leap) OVER (PARTITION BY l_orderkey) AS max_leap,
                           count(*) OVER (PARTITION BY l_orderkey) AS n FROM x),
              z AS (SELECT *, min(CASE WHEN prev IS NOT NULL AND prev <> 0 AND leap = max_leap
                                       THEN rank END) OVER (PARTITION BY l_orderkey) AS cut FROM y)
         SELECT l_orderkey, l_linenumber, rank FROM z
         WHERE n <= 1 OR cut IS NULL OR rank < cut ORDER BY l_orderkey, rank""",

    "q14_first_last_minby" ->
      """SELECT user_id,
                min_by(event_type, value*1e7 + event_id) AS cheapest_type,
                max_by(event_type, value*1e7 + event_id) AS priciest_type,
                min_by(event_type, epoch_us(ts)*1000 + event_id) AS first_type,
                max_by(event_type, epoch_us(ts)*1000 + event_id) AS last_type
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q15_corr" ->
      """SELECT l_returnflag, count(*) AS n,
                round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q16_entropy_multiset" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS k FROM events GROUP BY user_id, event_type),
              t2 AS (SELECT user_id, sum(k) AS n FROM c GROUP BY user_id)
         SELECT c.user_id, round(sum(-(k*1.0/n)*log2(k*1.0/n)), 6) AS h
         FROM c JOIN t2 ON c.user_id = t2.user_id GROUP BY c.user_id ORDER BY c.user_id""",

    "q17_topk_per_group" ->
      """SELECT s_nationkey, rank, s_suppkey, s_acctbal FROM (
           SELECT s_nationkey, s_suppkey, s_acctbal,
                  row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rank
           FROM supplier) WHERE rank <= 2 ORDER BY s_nationkey, rank""",

    "q19_melt_long" ->
      """SELECT l_orderkey, l_linenumber, feature, value FROM (
           SELECT l_orderkey, l_linenumber, 'l_quantity' AS feature, l_quantity AS value
             FROM lineitem WHERE l_orderkey < 50
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
             FROM lineitem WHERE l_orderkey < 50
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
             FROM lineitem WHERE l_orderkey < 50
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
             FROM lineitem WHERE l_orderkey < 50)
         ORDER BY l_orderkey, l_linenumber, feature""",

    "q21_dedup_exact" ->
      """SELECT doc_id, md5(text) AS content_hash,
                count(*) OVER (PARTITION BY md5(text)) AS dup_count
         FROM documents ORDER BY doc_id""",

    "q40_token_count" ->
      s"""SELECT doc_id,
                len(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS n_ws_tokens,
                len(regexp_extract_all(text, '${Oracles.bpePatternSql}')) AS n_bpe_tokens,
                round(len(regexp_extract_all(text, '${Oracles.bpePatternSql}'))*1.0 /
                      len(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')), 6) AS bpe_ratio
         FROM documents ORDER BY doc_id""",

    "q22_text_stats" ->
      """SELECT doc_id,
                len(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS n_tokens,
                length(text) AS n_chars_text,
                round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
                      len(string_split_regex(text, '[ \t\n\x0b\f\r]+')), 6) AS avg_token_len
         FROM documents ORDER BY doc_id""",

    "q23_lang_id" ->
      """WITH h AS (SELECT doc_id, lang,
                (len(string_split(' '||text||' ', ' the '))-1) +
                (len(string_split(' '||text||' ', ' a '))-1) +
                (len(string_split(' '||text||' ', ' of '))-1) AS en,
                (len(string_split(' '||text||' ', ' der '))-1) +
                (len(string_split(' '||text||' ', ' und '))-1) +
                (len(string_split(' '||text||' ', ' die '))-1) AS de,
                (len(string_split(' '||text||' ', ' el '))-1) +
                (len(string_split(' '||text||' ', ' la '))-1) +
                (len(string_split(' '||text||' ', ' los '))-1) AS es,
                (len(string_split(' '||text||' ', ' le '))-1) +
                (len(string_split(' '||text||' ', ' les '))-1) +
                (len(string_split(' '||text||' ', ' des '))-1) AS fr
           FROM documents)
         SELECT doc_id, lang,
                CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
                     WHEN en >= greatest(de, es, fr) THEN 'en'
                     WHEN de >= greatest(es, fr) THEN 'de'
                     WHEN es >= fr THEN 'es'
                     ELSE 'fr' END AS pred_lang
         FROM h ORDER BY doc_id""",

    "q24_quality" ->
      """WITH q AS (SELECT doc_id,
                CAST(len(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS DOUBLE) AS n,
                CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE) /
                  greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha,
                CAST(length(text) AS DOUBLE) AS n_chars
           FROM documents)
         SELECT doc_id,
                round((least(1.0, n/64.0) + alpha +
                       least(1.0, (n_chars/greatest(n, 1.0))/8.0)) / 3.0, 6) AS quality
         FROM q ORDER BY doc_id""",

    "q25_fingerprint" ->
      """SELECT doc_id,
                list_min(list_transform(list_distinct(string_split_regex(text, '[ \t\n\x0b\f\r]+')),
                                        x -> md5(x))) AS fingerprint
         FROM documents ORDER BY doc_id""",

    "q18_sample_seeded" ->
      """SELECT p_brand, count(*) AS n FROM part
         WHERE md5(CAST(p_partkey AS VARCHAR)) < '4c'
         GROUP BY p_brand ORDER BY p_brand""",

    "q26_minhash_lsh" ->
      s"""WITH $minhashPairsCte
         SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM v
         WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""",

    "q89_source_overlap" -> {
      import graft.plans.MinHashSignature.{coeffA, coeffB, P}
      val sigMins = (0 until 64)
        .map(i => s"min((${coeffA(i)}*h+${coeffB(i)})%$P) AS m$i")
        .mkString(",\n                 ")
      val sigMatches = (0 until 64)
        .map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH tk AS (SELECT source, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
              shs AS (SELECT source, unnest($shSql) AS sg FROM tk),
              sh AS (SELECT DISTINCT source, ('0x'||substr(md5(sg),1,8))::BIGINT AS h FROM shs),
              idx AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS idx
                      FROM (SELECT DISTINCT source FROM sh)),
              cnt AS (SELECT sh.source, idx, CAST(count(*) AS BIGINT) AS n_src
                      FROM sh JOIN idx USING (source) GROUP BY sh.source, idx),
              hist AS (SELECT mask, CAST(count(*) AS BIGINT) AS n FROM (
                         SELECT h, bit_or(1::BIGINT << idx::INT) AS mask
                         FROM sh JOIN idx USING (source) GROUP BY h)
                       GROUP BY mask),
              pairs AS (SELECT x.source AS src_a, y.source AS src_b,
                               x.idx AS ia, y.idx AS ib, x.n_src AS n_a, y.n_src AS n_b
                        FROM cnt x JOIN cnt y ON x.source < y.source),
              ex AS (SELECT src_a, src_b, n_a, n_b,
                            CAST(sum(CASE WHEN ((mask >> ia::INT) & 1) = 1
                                           AND ((mask >> ib::INT) & 1) = 1 THEN n ELSE 0 END) AS BIGINT) AS n_inter,
                            CAST(sum(CASE WHEN ((mask >> ia::INT) & 1) = 1
                                            OR ((mask >> ib::INT) & 1) = 1 THEN n ELSE 0 END) AS BIGINT) AS n_union
                     FROM pairs CROSS JOIN hist GROUP BY src_a, src_b, n_a, n_b),
              sig AS (SELECT source,
                 $sigMins
                      FROM sh GROUP BY source),
              est AS (SELECT x.source AS src_a, y.source AS src_b,
                             ($sigMatches) / 64.0 AS raw_est
                      FROM sig x JOIN sig y ON x.source < y.source)
         SELECT ex.src_a, ex.src_b, n_a, n_b, n_inter,
                round(n_inter::DOUBLE / n_union::DOUBLE, 6) AS jaccard,
                round(raw_est, 6) AS minhash_est
         FROM ex JOIN est ON ex.src_a = est.src_a AND ex.src_b = est.src_b
         ORDER BY ex.src_a, ex.src_b"""
    },

    // q24's quality + q40's token count + q43's clusters composed: drop
    // non-canonical near-dups and low-quality docs, budget tokens per lang
    "q44_corpus_curation" ->
      s"""WITH RECURSIVE $curationCtes
         SELECT lang, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS n_tokens,
                round(avg(q), 6) AS mean_quality
         FROM sc LEFT JOIN cl USING (doc_id)
         WHERE (cluster_id IS NULL OR cluster_id = doc_id)
           AND round(q, 6) >= 0.8
         GROUP BY lang ORDER BY lang""",

    // the curation chain (shared CTEs with q44 — one source of truth)
    // replayed as a per-stage funnel report
    "q97_curation_impact" ->
      s"""WITH RECURSIVE $curationCtes,
              ke AS (SELECT content_hash, min(doc_id) AS keep_id
                     FROM sc GROUP BY content_hash),
              s1 AS (SELECT sc.* FROM sc JOIN ke ON sc.doc_id = ke.keep_id),
              s2 AS (SELECT s1.* FROM s1 LEFT JOIN cl USING (doc_id)
                     WHERE cluster_id IS NULL OR cluster_id = doc_id),
              s3 AS (SELECT * FROM s2 WHERE round(q, 6) >= 0.8),
              s4 AS (SELECT * FROM s3 WHERE gk = 1)
         SELECT * FROM (
           SELECT 1 AS stage_rank, 'raw' AS stage,
                  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens
           FROM sc
           UNION ALL SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT), CAST(sum(toks) AS BIGINT) FROM s1
           UNION ALL SELECT 3, 'near_dedup', CAST(count(*) AS BIGINT), CAST(sum(toks) AS BIGINT) FROM s2
           UNION ALL SELECT 4, 'quality', CAST(count(*) AS BIGINT), CAST(sum(toks) AS BIGINT) FROM s3
           UNION ALL SELECT 5, 'gopher_rules', CAST(count(*) AS BIGINT), CAST(sum(toks) AS BIGINT) FROM s4)
         ORDER BY stage_rank""",

    // q97's funnel re-read per-doc: first-failing-stage CASE over the
    // SAME shared curationCtes (keeper agg, recursive components,
    // quality floor, Gopher rules in q107 order) — the two queries
    // cannot drift
    "q170_rejection_ledger" ->
      s"""WITH RECURSIVE $curationCtes,
              ke AS (SELECT content_hash, min(doc_id) AS keep_id
                     FROM sc GROUP BY content_hash),
              gf AS (SELECT doc_id,
                            CASE ${gopherRuleSqls.map { case (n, p) =>
                              s"WHEN NOT $p THEN '$n'" }.mkString(" ")} END AS gfail
                     FROM documents),
              led AS (SELECT sc.doc_id, ke.keep_id, cl.cluster_id, gf.gfail,
                             CASE WHEN sc.doc_id != ke.keep_id THEN 2
                                  WHEN cl.cluster_id IS NOT NULL
                                       AND cl.cluster_id != sc.doc_id THEN 3
                                  WHEN round(sc.q, 6) < 0.8 THEN 4
                                  WHEN gf.gfail IS NOT NULL THEN 5 END AS stage_rank
                      FROM sc JOIN ke USING (content_hash)
                      LEFT JOIN cl ON cl.doc_id = sc.doc_id
                      JOIN gf ON gf.doc_id = sc.doc_id)
         SELECT doc_id, CAST(stage_rank AS INT) AS stage_rank,
                CASE stage_rank WHEN 2 THEN 'exact_dup' WHEN 3 THEN 'near_dup'
                     WHEN 4 THEN 'quality' WHEN 5 THEN 'gopher' END AS stage,
                CASE stage_rank WHEN 2 THEN CAST(keep_id AS VARCHAR)
                     WHEN 3 THEN CAST(cluster_id AS VARCHAR)
                     WHEN 5 THEN gfail END AS detail
         FROM led WHERE stage_rank IS NOT NULL ORDER BY doc_id""",

    // DuckDB's NATIVE ASOF JOIN vs our union+running-last window plan —
    // two independent implementations of the same at-or-before semantics
    "q49_asof_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
                    FROM events),
              p AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'click'),
              r AS (SELECT user_id, us, max_by(value, event_id) AS purchase_value
                    FROM e WHERE event_type = 'purchase' GROUP BY user_id, us)
         SELECT p.user_id, p.event_id, p.us,
                r.us AS ref_us, r.purchase_value AS ref_purchase_value
         FROM p ASOF LEFT JOIN r ON p.user_id = r.user_id AND p.us >= r.us
         ORDER BY p.event_id""",

    "q51_top_tokens" ->
      """WITH tok AS (SELECT unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                      FROM documents)
         SELECT token, count(*) AS n FROM tok GROUP BY token
         ORDER BY n DESC, token LIMIT 20""",

    // integer-microsecond session arithmetic, exact in both engines
    "q50_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
              x AS (SELECT user_id, event_id, us,
                           CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                                  OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 43200000000
                                THEN 1 ELSE 0 END AS new_s
                    FROM e),
              s2 AS (SELECT user_id, us,
                            sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                             ROWS UNBOUNDED PRECEDING) AS sid
                     FROM x)
         SELECT user_id, CAST(sid AS BIGINT) AS session_id, count(*) AS n_events,
                min(us) AS start_us, max(us) AS end_us,
                max(us) - min(us) AS duration_us
         FROM s2 GROUP BY user_id, sid ORDER BY user_id, session_id""",

    // quantized integer pooling: floor(x*1024) sums are exact in any
    // engine; the only float ops are two divisions of identical operands
    "q48_label_centroid" ->
      """WITH u AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                           unnest(embedding) AS v
                    FROM embeddings),
              q AS (SELECT label, pos,
                           CAST(floor(CAST(v AS DOUBLE) * 1024.0) AS BIGINT) AS qv
                    FROM u)
         SELECT label, pos,
                round(CAST(sum(qv) AS DOUBLE) / count(*) / 1024.0, 6) AS centroid
         FROM q GROUP BY label, pos ORDER BY label, pos""",

    // decontamination: word-3-gram overlap of each training doc against
    // the held-out split's distinct shingle set
    "q45_decontamination" ->
      s"""WITH tk AS (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
              sh AS (SELECT doc_id, $shSql AS sh FROM tk),
              held AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 97 = 0),
              corp AS (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id % 97 <> 0),
              hits AS (SELECT doc_id, count(*) AS n
                       FROM corp JOIN held USING (shingle) GROUP BY doc_id)
         SELECT s.doc_id,
                CAST(coalesce(n, 0) AS BIGINT) AS n_contaminated_shingles,
                coalesce(n, 0) > 0 AS contaminated
         FROM sh s LEFT JOIN hits USING (doc_id)
         WHERE s.doc_id % 97 <> 0
         ORDER BY doc_id""",

    // the Bloom pre-filter is answer-preserving (no false negatives ->
    // the exact semi-join sees every true hit), so the oracle is q45's
    // decontamination SQL verbatim
    "q67_bloom_decontaminate" ->
      s"""WITH tk AS (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
              sh AS (SELECT doc_id, $shSql AS sh FROM tk),
              held AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 97 = 0),
              corp AS (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id % 97 <> 0),
              hits AS (SELECT doc_id, count(*) AS n
                       FROM corp JOIN held USING (shingle) GROUP BY doc_id)
         SELECT s.doc_id,
                CAST(coalesce(n, 0) AS BIGINT) AS n_contaminated_shingles,
                coalesce(n, 0) > 0 AS contaminated
         FROM sh s LEFT JOIN hits USING (doc_id)
         WHERE s.doc_id % 97 <> 0
         ORDER BY doc_id""",

    // the two-level sharded head equals row_number over the per-language
    // md5 order (the hash order is shard-major)
    "q68_stratified_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
              m AS (SELECT min(n) AS n_min FROM c),
              r AS (SELECT doc_id, lang,
                           row_number() OVER (PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                    FROM documents)
         SELECT doc_id, lang FROM r CROSS JOIN m WHERE rn <= n_min
         ORDER BY doc_id""",

    // the oracle verifies the overlap SEMANTICS with a plain theta join —
    // the bucketized equi-join is the engine's scale mechanism, not a
    // semantic change
    "q69_interval_overlap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
              s1 AS (SELECT user_id, event_id, us,
                            CASE WHEN lag(us) OVER w IS NULL
                                      OR us - lag(us) OVER w > 43200000000
                                 THEN 1 ELSE 0 END AS new_s
                     FROM e
                     WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
              s2 AS (SELECT user_id, us,
                            sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM s1),
              sessions AS (SELECT user_id, sid, min(us) AS s_start, max(us) AS s_end
                           FROM s2 GROUP BY user_id, sid),
              inc AS (SELECT user_id, event_id AS inc_id, us AS i_start,
                             us + 1800000000 AS i_end
                      FROM e WHERE event_type = 'error')
         SELECT inc_id, count(*) AS n_overlapping_sessions
         FROM inc JOIN sessions USING (user_id)
         WHERE s_start <= i_end AND i_start <= s_end
         GROUP BY inc_id ORDER BY inc_id""",

    // the sweep mirrored as ONE global window per rank (oracle scale is
    // fine with a single partition; the engine shards it): inclusive
    // rank sorts markers before probes at equal time, strict rank after
    "q71_session_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
              s1 AS (SELECT user_id, event_id, us,
                            CASE WHEN lag(us) OVER w IS NULL
                                      OR us - lag(us) OVER w > 43200000000
                                 THEN 1 ELSE 0 END AS new_s
                     FROM e
                     WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
              s2 AS (SELECT user_id, us,
                            sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM s1),
              sessions AS (SELECT user_id, sid, min(us) AS s_start, max(us) AS s_end
                           FROM s2 GROUP BY user_id, sid),
              inc AS (SELECT event_id AS inc_id, us FROM e WHERE event_type = 'error'),
              st AS (SELECT s_start AS time, 1 AS delta, CAST(NULL AS BIGINT) AS inc_id, 0 AS ord
                     FROM sessions
                     UNION ALL SELECT us, 0, inc_id, 1 FROM inc),
              cs AS (SELECT inc_id,
                            sum(delta) OVER (ORDER BY time, ord
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_started
                     FROM st),
              en AS (SELECT s_end AS time, 1 AS delta, CAST(NULL AS BIGINT) AS inc_id, 1 AS ord
                     FROM sessions
                     UNION ALL SELECT us, 0, inc_id, 0 FROM inc),
              ce AS (SELECT inc_id,
                            sum(delta) OVER (ORDER BY time, ord
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_ended
                     FROM en)
         SELECT cs.inc_id AS inc_id, CAST(n_started - n_ended AS BIGINT) AS n_active_sessions
         FROM cs JOIN ce ON cs.inc_id = ce.inc_id
         WHERE cs.inc_id IS NOT NULL
         ORDER BY cs.inc_id""",

    // chained native ASOF joins: inner for the purchase->click hop (the
    // funnel requires the click), left for click->view
    "q70_funnel" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
              p AS (SELECT user_id, event_id AS purchase_id, us FROM e
                    WHERE event_type = 'purchase'),
              c AS (SELECT user_id, us, max(event_id) AS click_id FROM e
                    WHERE event_type = 'click' GROUP BY user_id, us),
              v AS (SELECT user_id, us, max(event_id) AS view_id FROM e
                    WHERE event_type = 'view' GROUP BY user_id, us),
              pc AS (SELECT p.user_id, p.purchase_id, c.us AS click_us, c.click_id
                     FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.us >= c.us),
              pcv AS (SELECT pc.user_id, pc.purchase_id, pc.click_id, v.view_id
                      FROM pc ASOF LEFT JOIN v
                        ON pc.user_id = v.user_id AND pc.click_us >= v.us)
         SELECT user_id, purchase_id, click_id, view_id,
                view_id IS NOT NULL AS full_funnel
         FROM pcv ORDER BY purchase_id""",

    "q58_set_ops" ->
      """WITH tk AS (SELECT lang, string_split_regex(text, '[ \t\n\x0b\f\r]+') AS t
                     FROM documents),
              bg AS (SELECT lang,
                            unnest(list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1])) AS bigram
                     FROM tk)
         (SELECT DISTINCT bigram FROM bg WHERE lang = 'en'
          INTERSECT
          SELECT DISTINCT bigram FROM bg WHERE lang = 'de')
         EXCEPT
         SELECT DISTINCT bigram FROM bg WHERE lang = 'fr'
         ORDER BY bigram""",

    // anti-join as NOT EXISTS over the contaminated-id set — the clean
    // complement of q45's semi-join
    "q57_anti_join" ->
      s"""WITH tk AS (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
              sh AS (SELECT doc_id, $shSql AS sh FROM tk),
              held AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 97 = 0),
              corp AS (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id % 97 <> 0),
              cont AS (SELECT DISTINCT doc_id FROM corp JOIN held USING (shingle))
         SELECT d.doc_id, d.lang, d.n_chars
         FROM documents d
         WHERE d.doc_id % 97 <> 0
           AND NOT EXISTS (SELECT 1 FROM cont c WHERE c.doc_id = d.doc_id)
         ORDER BY d.doc_id""",

    // greedy md5-ordered prefix per lang until 20% of the lang's token
    // mass; integer-exact (len/sum/div), md5 hex order identical in both
    // engines
    "q59_token_budget" ->
      s"""WITH s AS (SELECT doc_id, lang,
                            len(regexp_extract_all(text, '$bpePatternSql')) AS toks,
                            md5(CAST(doc_id AS VARCHAR)) AS h
                     FROM documents),
              x AS (SELECT *,
                           coalesce(sum(toks) OVER (PARTITION BY lang ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
                           sum(toks) OVER (PARTITION BY lang) // 5 AS budget
                    FROM s)
         SELECT lang, CAST(max(budget) AS BIGINT) AS budget,
                count(*) AS n_docs_kept,
                CAST(sum(toks) AS BIGINT) AS n_tokens_kept
         FROM x WHERE cum_before < budget
         GROUP BY lang ORDER BY lang""",

    // 64-token chunks at stride 48; md5 of the re-joined chunk text is
    // the cross-engine chunk identity
    "q60_chunking" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(text, '[ \t\n\x0b\f\r]+') AS t
                     FROM documents),
              st AS (SELECT doc_id, t,
                            unnest(range(0, len(t), 48)) AS start,
                            unnest(range(0, CAST(ceil(len(t)/48.0) AS BIGINT))) AS chunk_id
                     FROM tk),
              ch AS (SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
                            t[start+1 : least(start+64, len(t))] AS chunk
                     FROM st)
         SELECT doc_id, chunk_id,
                CAST(len(chunk) AS INT) AS n_chunk_tokens,
                md5(array_to_string(chunk, ' ')) AS chunk_md5
         FROM ch ORDER BY doc_id, chunk_id""",

    // first-fit packing in md5 order within 16 hash shards; integer
    // cum-sum div 2048, fill = one exact division
    "q61_packing" ->
      s"""WITH s AS (SELECT doc_id,
                            len(regexp_extract_all(text, '$bpePatternSql')) AS toks,
                            md5(CAST(doc_id AS VARCHAR)) AS h
                     FROM documents),
              x AS (SELECT *, substr(h, 1, 1) AS shard FROM s),
              y AS (SELECT *,
                           coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS pack_id
                    FROM x)
         SELECT shard, CAST(pack_id AS BIGINT) AS pack_id,
                count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
                round(CAST(sum(toks) AS DOUBLE) / 2048.0, 6) AS fill
         FROM y GROUP BY shard, pack_id ORDER BY shard, pack_id""",

    // per-token surprisal rounded to 6dp then DECIMAL-summed: the
    // association-order-free form of a floating aggregation
    "q62_unigram_surprisal" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                      FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
              x AS (SELECT *, sum(tf) OVER (PARTITION BY token) AS cnt FROM tf),
              t2 AS (SELECT sum(tf) AS total FROM tf)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                CAST(CAST(sum(CAST(round(log2(CAST(total AS DOUBLE)/cnt), 6)
                                   AS DECIMAL(18,6)) * tf) * 1000000 AS BIGINT)
                     // sum(tf) AS DOUBLE) / 1000000.0 AS avg_surprisal
         FROM x CROSS JOIN t2 GROUP BY doc_id ORDER BY doc_id""",

    // BM25 with the identical formula over identical exact integers;
    // rank on the rounded score, token tiebreak
    "q76_bm25" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                      FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
              dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
              dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
              st AS (SELECT count(DISTINCT doc_id) AS n_docs,
                            CAST(sum(tf) AS BIGINT) AS total_toks FROM tf),
              scored AS (SELECT tf.doc_id, tf.token,
                                round(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                                      * (tf * (1.2 + 1) /
                                         (tf + 1.2 * (1 - 0.75 + 0.75 * dl /
                                            (CAST(total_toks AS DOUBLE) / n_docs)))), 6) AS bm25
                         FROM tf
                         JOIN dfq USING (token)
                         JOIN dl USING (doc_id)
                         CROSS JOIN st),
              r AS (SELECT doc_id, token, bm25,
                           row_number() OVER (PARTITION BY doc_id
                                              ORDER BY bm25 DESC, token) AS rank
                    FROM scored)
         SELECT doc_id, CAST(rank AS INT) AS rank, token, bm25
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",

    // z-score over exact integer moments: one derivation, identical
    // doubles in both engines before the round
    "q75_zscore_norm" ->
      """WITH m AS (SELECT lang, count(*) AS n,
                           CAST(sum(n_chars) AS BIGINT) AS sm,
                           CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
                    FROM documents GROUP BY lang)
         SELECT doc_id, lang, n_chars,
                round(CAST(n_chars * n - sm AS DOUBLE)
                      / CASE WHEN CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                                  - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) <= 0
                             THEN NULL
                             ELSE sqrt(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                                       - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)) END,
                      6) AS z
         FROM documents JOIN m USING (lang)
         ORDER BY doc_id""",

    // feature hashing: bucket and sign from the PortableHash md5
    // convention; counts and signed sums are exact integers
    "q74_feature_hash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                      FROM documents),
              b AS (SELECT doc_id,
                           ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket,
                           1 - 2 * (('0x' || substr(md5(token), 9, 1))::BIGINT % 2) AS sign
                    FROM tok)
         SELECT doc_id, bucket, count(*) AS tf_sum,
                CAST(sum(sign) AS BIGINT) AS signed_sum
         FROM b GROUP BY doc_id, bucket ORDER BY doc_id, bucket""",

    // the Morton spread chain written out twice (x and y) — same
    // shift-mask arithmetic, exact in both engines. The leading & 65535
    // mirrors the engine's spread16 input mask so the two stay identical
    // even for NEGATIVE coordinates (a negative % result carries high
    // two's-complement bits that the chain would otherwise spread)
    "q73_zorder_curve" ->
      """WITH s AS (SELECT event_id, user_id % 4096 AS ux,
                           CAST(floor(value) AS BIGINT) % 4096 AS vy
                    FROM events),
              s0 AS (SELECT event_id, ux, vy,
                            (ux & 65535) AS x0, (vy & 65535) AS y0 FROM s),
              e1 AS (SELECT event_id, ux, vy,
                            ((x0 | (x0 << 8)) & 16711935) AS x1,
                            ((y0 | (y0 << 8)) & 16711935) AS y1 FROM s0),
              e2 AS (SELECT event_id, ux, vy,
                            ((x1 | (x1 << 4)) & 252645135) AS x2,
                            ((y1 | (y1 << 4)) & 252645135) AS y2 FROM e1),
              e3 AS (SELECT event_id, ux, vy,
                            ((x2 | (x2 << 2)) & 858993459) AS x3,
                            ((y2 | (y2 << 2)) & 858993459) AS y3 FROM e2),
              e4 AS (SELECT event_id, ux, vy,
                            ((x3 | (x3 << 1)) & 1431655765) AS x4,
                            ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM e3)
         SELECT event_id, ux, vy, CAST(x4 | (y4 << 1) AS BIGINT) AS z
         FROM e4 ORDER BY event_id""",

    // bigram surprisal: exact-count ratios, round-then-DECIMAL-sum,
    // micro-scaled mean — q62's discipline one n-gram up
    "q90_npmi_collocations" ->
      """WITH tk AS (SELECT string_split_regex(text, '[ \t\n\x0b\f\r]+') AS t FROM documents),
              u0 AS (SELECT unnest(t) AS w FROM tk),
              uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u0 GROUP BY w),
              n1t AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM uni),
              b0 AS (SELECT unnest(list_transform(range(1, len(t)),
                                                  i -> t[i] || ' ' || t[i+1])) AS bigram
                     FROM tk),
              bi AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c12 FROM b0 GROUP BY bigram),
              n2t AS (SELECT CAST(sum(c12) AS BIGINT) AS n2 FROM bi),
              j AS (SELECT split_part(bigram, ' ', 1) AS w1,
                           split_part(bigram, ' ', 2) AS w2, c12
                    FROM bi WHERE c12 >= 10),
              r AS (SELECT w1, w2, c12, x1.c AS c1, x2.c AS c2, n1, n2,
                           c12::DOUBLE / n2::DOUBLE AS p12
                    FROM j JOIN uni x1 ON j.w1 = x1.w
                           JOIN uni x2 ON j.w2 = x2.w
                           CROSS JOIN n1t CROSS JOIN n2t)
         SELECT w1, w2, c12,
                round(ln(p12 / ((c1::DOUBLE / n1::DOUBLE) * (c2::DOUBLE / n1::DOUBLE)))
                      / -ln(p12), 6) AS npmi
         FROM r ORDER BY npmi DESC, w1, w2 LIMIT 20""",

    "q72_bigram_surprisal" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(text, '[ \t\n\x0b\f\r]+') AS t
                     FROM documents),
              bg AS (SELECT doc_id,
                            unnest(list_transform(range(1, len(t)),
                                                  i -> t[i] || ' ' || t[i+1])) AS bigram
                     FROM tk),
              bt AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY doc_id, bigram),
              cb AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS c2 FROM bt GROUP BY bigram),
              c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, CAST(sum(tf) AS BIGINT) AS c1
                     FROM bt GROUP BY 1),
              x AS (SELECT bt.doc_id, bt.tf,
                           CAST(round(log2(CAST(c1 AS DOUBLE) / c2), 6)
                                AS DECIMAL(18,6)) AS term
                    FROM bt
                    JOIN cb USING (bigram)
                    JOIN c1 ON split_part(bt.bigram, ' ', 1) = c1.w1)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
                CAST(CAST(sum(term * tf) * 1000000 AS BIGINT)
                     // sum(tf) AS DOUBLE) / 1000000.0 AS avg_surprisal
         FROM x GROUP BY doc_id ORDER BY doc_id""",

    // sliding-window membership by integer arithmetic: window [s, s+15min)
    // contains t iff s = (t div 5min - k)*5min for k in 0..2
    "q66_sliding_window" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
              w AS (SELECT (us // 300000000 - k.k) * 300000000 AS w_start, event_type, value
                    FROM e CROSS JOIN (SELECT unnest(range(3)) AS k) k)
         SELECT w_start, event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM w GROUP BY w_start, event_type ORDER BY w_start, event_type""",

    // exact integer dots against per-label component sums; score = one
    // division of exact integers, so the argmax never touches rounding
    "q65_centroid_confusion" ->
      s"""WITH $centroidConfusionCte
         SELECT true_label, pred_label, n_vectors
         FROM conf ORDER BY true_label, pred_label""",

    "q92_label_agreement" ->
      s"""WITH $centroidConfusionCte,
              n AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS n_total FROM conf),
              di AS (SELECT CAST(coalesce(sum(n_vectors), 0) AS BIGINT) AS n_agree
                     FROM conf WHERE true_label = pred_label),
              rw AS (SELECT true_label AS l, CAST(sum(n_vectors) AS BIGINT) AS r
                     FROM conf GROUP BY true_label),
              cl AS (SELECT pred_label AS l, CAST(sum(n_vectors) AS BIGINT) AS c
                     FROM conf GROUP BY pred_label),
              pn AS (SELECT CAST(coalesce(sum(r * c), 0) AS BIGINT) AS s
                     FROM rw JOIN cl USING (l))
         SELECT n_total,
                round(n_agree::DOUBLE / n_total::DOUBLE, 6) AS accuracy,
                round(s::DOUBLE / (n_total::DOUBLE * n_total::DOUBLE), 6) AS expected_agreement,
                round((n_agree::DOUBLE / n_total::DOUBLE
                       - s::DOUBLE / (n_total::DOUBLE * n_total::DOUBLE))
                      / (1.0 - s::DOUBLE / (n_total::DOUBLE * n_total::DOUBLE)), 6) AS kappa
         FROM n CROSS JOIN di CROSS JOIN pn ORDER BY n_total""",

    "q96_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
              x AS (SELECT user_id, event_id, us, event_type,
                           CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                                  OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 43200000000
                                THEN 1 ELSE 0 END AS new_s
                    FROM e),
              s2 AS (SELECT user_id, event_id, us, event_type,
                            sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                             ROWS UNBOUNDED PRECEDING) AS sid
                     FROM x),
              t3 AS (SELECT event_type || ' > ' || lead(event_type, 1) OVER w2
                              || ' > ' || lead(event_type, 2) OVER w2 AS path,
                            sid,
                            lead(sid, 1) OVER w2 AS sid2,
                            lead(sid, 2) OVER w2 AS sid3
                     FROM s2 WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id))
         SELECT path, CAST(count(*) AS BIGINT) AS n
         FROM t3 WHERE sid2 = sid AND sid3 = sid
         GROUP BY path ORDER BY n DESC, path LIMIT 20""",

    "q104_delta_dedup" ->
      s"""WITH $minhashPairsCte,
              tags AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) < '1a' AS isnew,
                              md5(text) AS ch
                       FROM documents),
              baseh AS (SELECT DISTINCT ch FROM tags WHERE NOT isnew),
              ex AS (SELECT DISTINCT t.doc_id FROM tags t JOIN baseh USING (ch)
                     WHERE isnew),
              np AS (SELECT doc_a AS doc_id, doc_b AS other FROM v WHERE jaccard >= 0.5
                     UNION ALL SELECT doc_b, doc_a FROM v WHERE jaccard >= 0.5),
              nr AS (SELECT DISTINCT np.doc_id FROM np
                     JOIN tags tn ON np.doc_id = tn.doc_id AND tn.isnew
                     JOIN tags tb ON np.other = tb.doc_id AND NOT tb.isnew)
         SELECT t.doc_id,
                CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
                     WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                     ELSE 'novel' END AS status
         FROM tags t LEFT JOIN ex ON t.doc_id = ex.doc_id
                     LEFT JOIN nr ON t.doc_id = nr.doc_id
         WHERE t.isnew ORDER BY t.doc_id""",

    // K=5 token shingles, md5-60bit identity (PortableHash convention);
    // first occurrence = lexicographic (doc_id, pos) min, derived as
    // min(doc_id) then min(pos)-within-that-doc exactly like the engine;
    // coverage = K positions per non-first occurrence, spans by
    // lag-gap, trimmed text by position anti-join
    "q105_span_removal" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(text, '[ \t\n\x0b\f\r]+') AS t
                     FROM documents),
              sh AS (SELECT doc_id, i AS pos,
                            ('0x'||substr(md5(array_to_string(t[i:i+4], ' ')),1,15))::BIGINT AS h
                     FROM tk, unnest(range(1, len(t)-3)) AS g(i)
                     WHERE len(t) >= 5),
              fdoc AS (SELECT h, min(doc_id) AS fd FROM sh GROUP BY h),
              fo AS (SELECT s.h, s.doc_id AS fd, min(s.pos) AS fp
                     FROM sh s JOIN fdoc f ON s.h = f.h AND s.doc_id = f.fd
                     GROUP BY s.h, s.doc_id),
              cov AS (SELECT DISTINCT s.doc_id, s.pos + j AS cpos
                      FROM sh s JOIN fo ON s.h = fo.h
                      CROSS JOIN unnest(range(0, 5)) AS u(j)
                      WHERE s.doc_id != fo.fd OR s.pos != fo.fp),
              st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed,
                            CAST(sum(CASE WHEN prev IS NULL OR cpos - prev > 1
                                          THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
                     FROM (SELECT doc_id, cpos,
                                  lag(cpos) OVER (PARTITION BY doc_id ORDER BY cpos) AS prev
                           FROM cov)
                     GROUP BY doc_id),
              tok AS (SELECT doc_id, t[i] AS w, i AS p
                      FROM tk, unnest(range(1, len(t)+1)) AS g(i)),
              kept AS (SELECT tok.doc_id, string_agg(w, ' ' ORDER BY p) AS trimmed
                       FROM tok LEFT JOIN cov
                         ON tok.doc_id = cov.doc_id AND tok.p = cov.cpos
                       WHERE cov.cpos IS NULL GROUP BY tok.doc_id)
         SELECT tk.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                CAST(coalesce(st.n_removed, 0) AS BIGINT) AS n_removed,
                CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
                coalesce(kept.trimmed, '') AS trimmed_text
         FROM tk LEFT JOIN st USING (doc_id) LEFT JOIN kept USING (doc_id)
         ORDER BY tk.doc_id""",

    // the LITERAL piiPatterns regexes (interpolated, so the two engines
    // cannot drift); deterministic doc_id-derived PII augmentation
    // mirrored from the engine side; DuckDB regexp_replace needs the
    // explicit 'g' flag (Spark replaces globally by default)
    "q106_pii_redaction" -> {
      val rx = graft.functions.TextFunctions.piiPatterns
        .map { case (n, p, tag) => n -> (p, tag) }.toMap
      val redact = graft.functions.TextFunctions.piiPatterns
        .foldLeft("atext") { case (inner, (_, p, tag)) =>
          s"regexp_replace($inner, '$p', '$tag', 'g')"
        }
      val countCols = graft.functions.TextFunctions.piiPatterns
        .map { case (n, p, _) =>
          s"CAST(len(regexp_extract_all(atext, '$p')) AS BIGINT) AS n_$n"
        }.mkString(",\n                ")
      s"""WITH aug AS (SELECT doc_id,
                text || CASE WHEN doc_id % 7 = 0
                             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                             ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                             THEN ' server 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.'
                                  || CAST(doc_id % 50 AS VARCHAR) || ' up'
                             ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                             THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
                             ELSE '' END
                     || CASE WHEN doc_id % 17 = 0
                             THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' filed'
                             ELSE '' END AS atext
              FROM documents)
         SELECT doc_id,
                $countCols,
                CAST(len(regexp_extract_all(atext, '${rx("email")._1}'))
                   + len(regexp_extract_all(atext, '${rx("ipv4")._1}'))
                   + len(regexp_extract_all(atext, '${rx("phone")._1}'))
                   + len(regexp_extract_all(atext, '${rx("idnum")._1}')) AS BIGINT) AS n_pii,
                $redact AS redacted_text
         FROM aug ORDER BY doc_id"""
    },

    // the LITERAL gopherRuleSqls predicates (same fragments the shared
    // curation CTE uses for q97's stage 5) — integer cross-multiplied
    // comparisons, no float boundary anywhere
    "q107_gopher_rules" -> {
      val ruleCols = gopherRuleSqls.map { case (n, p) =>
        s"CAST(CASE WHEN $p THEN 1 ELSE 0 END AS INT) AS $n"
      }.mkString(",\n                ")
      s"""SELECT doc_id,
                CAST(len(string_split_regex(text, $wsSql)) AS BIGINT) AS n_words,
                $ruleCols,
                CAST(CASE WHEN $gopherKeepSql THEN 1 ELSE 0 END AS INT) AS keep
         FROM documents ORDER BY doc_id"""
    },

    // df-capped inverted-index cosine with micro-scaled integer weights
    // (identical idf expression text, exact integer dots/norms)
    "q108_sparse_cosine_pairs" ->
      s"""WITH tk AS (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
              shl AS (SELECT doc_id, $shSql AS sh FROM tk),
              e AS (SELECT doc_id, unnest(sh) AS s FROM shl),
              dfq AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY s),
              nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
              po AS (SELECT e.doc_id, e.s,
                            CAST(round((ln((n_docs + 1.0) / (df + 1.0)) + 1.0) * 1000000, 0) AS BIGINT) AS wq
                     FROM e JOIN dfq USING (s) CROSS JOIN nd
                     WHERE df <= 20),
              nr AS (SELECT doc_id, CAST(sum(wq*wq) AS BIGINT) AS nrm FROM po GROUP BY doc_id),
              pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            CAST(sum(a.wq*b.wq) AS BIGINT) AS dot
                     FROM po a JOIN po b ON a.s = b.s AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(dot::DOUBLE / sqrt(na.nrm::DOUBLE * nb.nrm::DOUBLE), 6) AS cosine
         FROM pr JOIN nr na ON pr.doc_a = na.doc_id
                 JOIN nr nb ON pr.doc_b = nb.doc_id
         ORDER BY cosine DESC, doc_a, doc_b LIMIT 20""",

    // q26's verified-pair CTE, mapped to (source, source) cells; mean
    // jaccard via exact micro-scaled integer sum + truncating division
    "q109_source_contamination" ->
      s"""WITH $minhashPairsCte,
              sp AS (SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= 0.5),
              m AS (SELECT least(da.source, db.source) AS src_a,
                           greatest(da.source, db.source) AS src_b,
                           CAST(round(jaccard * 1e6, 0) AS BIGINT) AS jm
                    FROM sp JOIN documents da ON sp.doc_a = da.doc_id
                            JOIN documents db ON sp.doc_b = db.doc_id)
         SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
                (CAST(sum(jm) AS BIGINT) // CAST(count(*) AS BIGINT)) / 1e6 AS mean_jaccard
         FROM m GROUP BY src_a, src_b ORDER BY src_a, src_b""",

    // identical log2-of-integer-ratio expressions, q72's round-6 DECIMAL
    // sum + micro-scaled integer-division mean
    "q111_stupid_backoff" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(text, '[ \t\n\x0b\f\r]+') AS t
                     FROM documents),
              bg AS (SELECT doc_id,
                            unnest(list_transform(range(1, len(t)),
                                                  i -> t[i] || ' ' || t[i+1])) AS bigram
                     FROM tk),
              c2 AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c2 FROM bg
                     WHERE doc_id % 97 = 0 GROUP BY bigram),
              c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
                     FROM c2 GROUP BY 1),
              cw AS (SELECT w2, CAST(count(*) AS BIGINT) AS cw FROM (
                       SELECT unnest(t) AS w2 FROM tk WHERE doc_id % 97 = 0)
                     GROUP BY w2),
              nt AS (SELECT CAST(sum(len(t)) AS BIGINT) AS n_train FROM tk
                     WHERE doc_id % 97 = 0),
              bt AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf,
                            split_part(bigram, ' ', 1) AS w1,
                            split_part(bigram, ' ', 2) AS w2
                     FROM bg WHERE doc_id % 97 != 0 GROUP BY doc_id, bigram),
              x AS (SELECT bt.doc_id, bt.tf,
                           CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS backoff,
                           CAST(CASE WHEN c2.c2 IS NOT NULL
                                     THEN round(log2(CAST(c1 AS DOUBLE) / c2.c2), 6)
                                     ELSE round(log2(CAST(n_train AS DOUBLE) * 2.5
                                                     / COALESCE(cw.cw, 1)), 6)
                                END AS DECIMAL(18,6)) AS term
                    FROM bt
                    LEFT JOIN c2 USING (bigram)
                    LEFT JOIN c1 USING (w1)
                    LEFT JOIN cw USING (w2)
                    CROSS JOIN nt)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
                CAST(sum(backoff * tf) AS BIGINT) AS n_backoff,
                CAST(CAST(sum(term * tf) * 1000000 AS BIGINT)
                     // sum(tf) AS DOUBLE) / 1000000.0 AS avg_score
         FROM x GROUP BY doc_id ORDER BY doc_id""",

    // p=1/2 keeps depth weights exact dyadic; terms rounded to 6dp into
    // DECIMAL and summed exactly — no float summation order
    "q112_rank_overlap" ->
      """WITH tf AS (SELECT doc_id % 2 AS side, token, count(*) AS freq FROM (
                       SELECT doc_id, unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                       FROM documents)
                     GROUP BY 1, 2),
              ra AS (SELECT token, row_number() OVER (ORDER BY freq DESC, token) AS r
                     FROM (SELECT * FROM tf WHERE side = 0
                           ORDER BY freq DESC, token LIMIT 30)),
              rb AS (SELECT token, row_number() OVER (ORDER BY freq DESC, token) AS r
                     FROM (SELECT * FROM tf WHERE side = 1
                           ORDER BY freq DESC, token LIMIT 30)),
              md AS (SELECT greatest(ra.r, rb.r) AS mr FROM ra JOIN rb USING (token)),
              dpt AS (SELECT unnest(range(1, 31)) AS d),
              ad AS (SELECT d, CAST(count(mr) AS BIGINT) AS a_d
                     FROM dpt LEFT JOIN md ON mr <= d GROUP BY d),
              tm AS (SELECT d, a_d,
                            CAST(round(power(0.5, d) * a_d / d, 6) AS DECIMAL(18,6)) AS term
                     FROM ad)
         SELECT CAST(30 AS INT) AS depth,
                max(CASE WHEN d = 30 THEN a_d END) AS n_common,
                CAST(round(sum(term), 6) AS DOUBLE) AS rbo
         FROM tm ORDER BY depth""",

    // derived-excerpt augmentation + rare-shingle blocking; md5-32
    // shingle hashes (PortableHash) so the set arithmetic is identical
    "q113_containment_pairs" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents
                        UNION ALL
                        SELECT doc_id + 1000000,
                               array_to_string(t[1:len(t)//2], ' ')
                        FROM (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
                              FROM documents)
                        WHERE doc_id % 37 = 0),
              tk AS (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM base),
              shl AS (SELECT doc_id, $shSql AS sh FROM tk),
              hs AS (SELECT doc_id, list_sort(list_distinct(list_transform(sh,
                            s -> ${graft.functions.PortableHash.duckdbMd5Long("s", 8)}))) AS hset
                     FROM shl WHERE len(sh) > 0),
              po AS (SELECT doc_id, unnest(hset) AS h FROM hs),
              rare AS (SELECT h FROM po GROUP BY h HAVING count(*) <= 20),
              cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                       FROM po a JOIN rare USING (h)
                       JOIN po b ON a.h = b.h AND a.doc_id < b.doc_id),
              v AS (SELECT doc_a, doc_b, len(x.hset) AS la, len(y.hset) AS lb,
                           len(list_intersect(x.hset, y.hset)) AS li
                    FROM cand JOIN hs x ON doc_a = x.doc_id
                              JOIN hs y ON doc_b = y.doc_id)
         SELECT doc_a, doc_b, CAST(la AS BIGINT) AS n_a, CAST(lb AS BIGINT) AS n_b,
                round(li * 1.0 / least(la, lb), 6) AS containment,
                round(li * 1.0 / (la + lb - li), 6) AS jaccard
         FROM v
         WHERE round(li * 1.0 / least(la, lb), 6) >= 0.8
           AND round(li * 1.0 / (la + lb - li), 6) < 0.5
         ORDER BY doc_a, doc_b""",

    "q110_padding_waste" ->
      s"""WITH n0 AS (SELECT len(regexp_extract_all(text, '$bpePatternSql')) AS n FROM documents),
              b AS (SELECT CAST(power(2, ceil(log2(n::DOUBLE))) AS BIGINT) AS bucket, n
                    FROM n0 WHERE n > 0)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n) AS BIGINT) AS n_tokens,
                CAST(bucket * count(*) AS BIGINT) AS n_padded,
                round((bucket * count(*) - sum(n))::DOUBLE / (bucket * count(*))::DOUBLE, 6) AS waste_frac
         FROM b GROUP BY bucket ORDER BY bucket""",

    "q103_markov_backtest" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
              sp AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
              pr AS (SELECT user_id, us, event_type,
                            lead(event_type) OVER (PARTITION BY user_id
                              ORDER BY us, event_id) AS next
                     FROM e),
              p2 AS (SELECT * FROM pr WHERE next IS NOT NULL),
              tr AS (SELECT event_type AS prev, next AS pred, count(*) AS cnt
                     FROM p2 CROSS JOIN sp WHERE us < mid GROUP BY 1, 2),
              md AS (SELECT prev, pred FROM (
                       SELECT *, row_number() OVER (PARTITION BY prev
                         ORDER BY cnt DESC, pred) AS rnk FROM tr)
                     WHERE rnk = 1),
              te AS (SELECT event_type AS prev, next FROM p2 CROSS JOIN sp
                     WHERE us >= mid)
         SELECT te.prev AS event_type, CAST(count(*) AS BIGINT) AS n_test,
                CAST(sum(CASE WHEN pred = next THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                round(sum(CASE WHEN pred = next THEN 1 ELSE 0 END)::DOUBLE
                      / count(*)::DOUBLE, 6) AS accuracy
         FROM te LEFT JOIN md USING (prev)
         GROUP BY te.prev ORDER BY event_type""",

    // dt replicates tokenSet's distinct-per-doc semantics; the pair
    // generation is a doc-keyed self-join (equivalent to the engine's
    // within-list explode: same ordered-pair set under binary collation)
    "q101_frequent_pairs" ->
      """WITH dt AS (SELECT DISTINCT doc_id, token FROM (
                       SELECT doc_id, unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                       FROM documents)),
              fq AS (SELECT token FROM dt GROUP BY token HAVING count(*) >= 20),
              dtf AS (SELECT doc_id, token FROM dt JOIN fq USING (token)),
              pr AS (SELECT a.token || ' ' || b.token AS pair
                     FROM dtf a JOIN dtf b
                       ON a.doc_id = b.doc_id AND a.token < b.token)
         SELECT pair, CAST(count(*) AS BIGINT) AS support
         FROM pr GROUP BY pair HAVING count(*) >= 20
         ORDER BY support DESC, pair LIMIT 20""",

    "q102_centroid_similarity" ->
      """WITH u AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                           unnest(embedding) AS v
                    FROM embeddings),
              ev AS (SELECT label, pos,
                            CAST(floor(CAST(v AS DOUBLE) * 1024.0) AS BIGINT) AS qv
                     FROM u),
              cs AS (SELECT label, pos, CAST(sum(qv) AS BIGINT) AS sq
                     FROM ev GROUP BY label, pos),
              p AS (SELECT a.label AS label_a, b.label AS label_b,
                           CAST(sum(a.sq * b.sq) AS BIGINT) AS dot,
                           CAST(sum(a.sq * a.sq) AS BIGINT) AS na,
                           CAST(sum(b.sq * b.sq) AS BIGINT) AS nb
                    FROM cs a JOIN cs b ON a.pos = b.pos AND a.label < b.label
                    GROUP BY a.label, b.label)
         SELECT label_a, label_b,
                round(dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)), 6) AS cosine
         FROM p ORDER BY label_a, label_b""",

    "q100_dataset_card" ->
      s"""WITH $scoredDocsCte,
              dh AS (SELECT content_hash, count(*) AS dc FROM scored GROUP BY content_hash),
              fl AS (SELECT scored.*, dc FROM scored JOIN dh USING (content_hash)),
              a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(sum(toks) AS BIGINT) AS n_tokens,
                           round(avg(q), 6) AS mean_quality,
                           quantile_cont(n_chars, 0.5) AS p50c,
                           CAST(sum(CASE WHEN dc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
                    FROM fl GROUP BY lang),
              st AS (SELECT lang, source, count(*) AS cnt FROM scored GROUP BY lang, source),
              sr AS (SELECT lang, source AS top_source,
                            row_number() OVER (PARTITION BY lang
                              ORDER BY cnt DESC, source) AS rnk
                     FROM st)
         SELECT a.lang, n_docs, n_tokens, mean_quality,
                round(p50c, 6) AS p50_chars,
                round(n_dup::DOUBLE / n_docs::DOUBLE, 6) AS dup_doc_frac,
                top_source
         FROM a JOIN sr ON a.lang = sr.lang AND rnk = 1
         ORDER BY a.lang""",

    "q98_zipf_slope" ->
      """WITH tk AS (SELECT unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                     FROM documents),
              vc AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tk GROUP BY token
                     ORDER BY freq DESC, token LIMIT 100),
              rk AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank FROM vc),
              xy AS (SELECT CAST(round(log2(rank::DOUBLE) * 1e6, 0) AS BIGINT) AS x,
                            CAST(round(log2(freq::DOUBLE) * 1e6, 0) AS BIGINT) AS y
                     FROM rk),
              m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                           CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy
                    FROM xy)
         SELECT n AS n_points,
                round((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE, 6) AS slope,
                round((sy::DOUBLE / 1e6
                       - ((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE)
                         * (sx::DOUBLE / 1e6)) / n::DOUBLE, 6) AS intercept_log2
         FROM m ORDER BY n_points""",

    "q99_seasonal_anomaly" ->
      """WITH h AS (SELECT epoch_us(ts) // 3600000000 AS bucket, event_type,
                           CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY 1, 2),
              hh AS (SELECT bucket, event_type, n, bucket % 24 AS hod FROM h),
              b AS (SELECT event_type, hod, CAST(count(*) AS BIGINT) AS k,
                           CAST(sum(n) AS BIGINT) AS sn, CAST(sum(n*n) AS BIGINT) AS snn
                    FROM hh GROUP BY event_type, hod),
              z AS (SELECT hh.event_type, bucket, hh.hod, n,
                           round((n::DOUBLE - sn::DOUBLE / k::DOUBLE) /
                                 sqrt((k*snn - sn*sn)::DOUBLE / (k*(k-1))::DOUBLE), 6) AS z
                    FROM hh JOIN b ON hh.event_type = b.event_type AND hh.hod = b.hod
                    WHERE k >= 2)
         SELECT event_type, bucket, hod, n, z FROM z
         WHERE z >= 2.0 ORDER BY event_type, bucket""",

    "q94_mad_lengths" ->
      """WITH m AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
                    FROM documents GROUP BY lang),
              dv AS (SELECT d.lang, med, abs(n_chars::DOUBLE - med) AS dev
                     FROM documents d JOIN m USING (lang))
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                round(med, 6) AS median_chars,
                round(quantile_cont(dev, 0.5), 6) AS mad_chars
         FROM dv GROUP BY lang, med ORDER BY lang""",

    "q95_ols_tokens_chars" ->
      """WITH xy AS (SELECT lang, n_chars AS x,
                            CAST(len(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS BIGINT) AS y
                     FROM documents),
              m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                           CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy
                    FROM xy GROUP BY lang)
         SELECT lang, n,
                round((CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy)::DOUBLE /
                      (CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx)::DOUBLE, 6) AS slope,
                round((sy::DOUBLE
                       - ((CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy)::DOUBLE /
                          (CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx)::DOUBLE)
                         * sx::DOUBLE) / n::DOUBLE, 6) AS intercept
         FROM m ORDER BY lang""",

    "q91_retention_cohorts" ->
      """WITH uw AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
              c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id),
              sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
                     FROM c GROUP BY cohort_week),
              r AS (SELECT cohort_week, week - cohort_week AS week_offset,
                           CAST(count(*) AS BIGINT) AS n_users
                    FROM uw JOIN c USING (user_id)
                    GROUP BY cohort_week, week - cohort_week)
         SELECT r.cohort_week, week_offset, n_users, n_cohort,
                round(n_users::DOUBLE / n_cohort::DOUBLE, 6) AS retention
         FROM r JOIN sz USING (cohort_week)
         ORDER BY cohort_week, week_offset""",

    "q64_rank_functions" ->
      """SELECT doc_id, lang, n_chars,
                CAST(ntile(10) OVER w AS INT) AS decile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume
         FROM documents
         WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
         ORDER BY doc_id""",

    "q63_full_outer" ->
      """WITH b AS (SELECT lang, source,
                           CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '0d'
                                THEN 'test' ELSE 'train' END AS split
                    FROM documents),
              tr AS (SELECT lang, source, count(*) AS n_train FROM b
                     WHERE split = 'train' GROUP BY lang, source),
              te AS (SELECT lang, source, count(*) AS n_test FROM b
                     WHERE split = 'test' GROUP BY lang, source)
         SELECT lang, source,
                coalesce(n_train, 0) AS n_train,
                coalesce(n_test, 0) AS n_test
         FROM tr FULL OUTER JOIN te USING (lang, source)
         ORDER BY lang, source""",

    // md5 hash-bucket split (q18's sampling promoted to train/val/test)
    // with per-split BPE-ish token budgets
    "q46_hash_split" ->
      s"""WITH s AS (SELECT doc_id, lang,
                            CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '0d' THEN 'test'
                                 WHEN md5(CAST(doc_id AS VARCHAR)) < '1a' THEN 'val'
                                 ELSE 'train' END AS split,
                            len(regexp_extract_all(text, '$bpePatternSql')) AS toks
                     FROM documents)
         SELECT split, lang, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS n_tokens
         FROM s GROUP BY split, lang ORDER BY split, lang""",

    // TF-IDF: rank on the rounded score (round-before-order discipline);
    // ln of a ratio of identical integers is the only float op pre-round
    "q52_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                      FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
              dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
              nd AS (SELECT count(*) AS n_docs FROM documents),
              scored AS (SELECT doc_id, token,
                                round(tf * ln(CAST(n_docs AS DOUBLE)/df), 6) AS tfidf
                         FROM tf JOIN dfq USING (token) CROSS JOIN nd),
              r AS (SELECT doc_id, token, tfidf,
                           row_number() OVER (PARTITION BY doc_id
                                              ORDER BY tfidf DESC, token) AS rank
                    FROM scored)
         SELECT doc_id, CAST(rank AS INT) AS rank, token, tfidf
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",

    "q53_rollup_budget" ->
      """SELECT CASE WHEN grouping(lang) = 1 THEN '(all)' ELSE lang END AS lang,
                CASE WHEN grouping(source) = 1 THEN '(all)' ELSE source END AS source,
                count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
         FROM documents GROUP BY ROLLUP(lang, source) ORDER BY lang, source""",

    "q54_pivot_events" ->
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'click') AS click,
                count(*) FILTER (WHERE event_type = 'error') AS error,
                count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS signup,
                count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id ORDER BY user_id""",

    // trailing 1-hour RANGE frame over integer microseconds; DECIMAL sum
    // keeps the frame arithmetic exact in both engines; the mean is the
    // micro-scaled integer form (round() itself diverges on .5-at-6dp
    // boundaries — boundary discipline)
    "q55_rolling_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events)
         SELECT event_id, user_id, us,
                count(*) OVER w AS n_1h,
                CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h,
                CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w * 1000000 AS BIGINT)
                     // (count(*) OVER w) AS DOUBLE) / 1000000.0 AS avg_1h
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    // both engines interpolate linearly on the sorted values; round(,6)
    // absorbs the one-lerp-formula difference
    "q56_length_quantiles" ->
      """SELECT lang, count(*) AS n_docs,
                round(quantile_cont(n_chars, 0.5), 6) AS p50,
                round(quantile_cont(n_chars, 0.9), 6) AS p90,
                round(quantile_cont(n_chars, 0.99), 6) AS p99
         FROM documents GROUP BY lang ORDER BY lang""",

    // within-doc repetition: duplicate token / bigram fractions
    "q47_repetition" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(text, '[ \t\n\x0b\f\r]+') AS t FROM documents),
              bi AS (SELECT doc_id, t,
                            list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1]) AS b
                     FROM tk)
         SELECT doc_id,
                len(t) AS n_tokens,
                round(1.0 - len(list_distinct(t))*1.0/len(t), 6) AS dup_token_frac,
                CASE WHEN len(b) > 0
                     THEN round(1.0 - len(list_distinct(b))*1.0/len(b), 6)
                     ELSE 0.0 END AS dup_bigram_frac
         FROM bi ORDER BY doc_id""",

    // connected components of the q26 near-dup graph: the recursive
    // closure reaches every node of a component, min(reachable) = the
    // canonical id — semantics the Spark side's min-label propagation
    // converges to
    "q43_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCte,
              p AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
              edges AS (SELECT doc_a AS a, doc_b AS b FROM p
                        UNION SELECT doc_b, doc_a FROM p),
              reach(src, dst) AS (
                SELECT a, a FROM edges
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
         SELECT src AS doc_id, min(dst) AS cluster_id
         FROM reach GROUP BY src ORDER BY doc_id""",

    // q43's recursive-CTE clusters + q24's quality formula; the keep
    // decision is a rank over (rounded quality DESC, doc_id ASC)
    "q77_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashPairsCte,
              p AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
              edges AS (SELECT doc_a AS a, doc_b AS b FROM p
                        UNION SELECT doc_b, doc_a FROM p),
              reach(src, dst) AS (
                SELECT a, a FROM edges
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
              cl AS (SELECT src AS doc_id, min(dst) AS cluster_id
                     FROM reach GROUP BY src),
              qbase AS (SELECT doc_id,
                               CAST(len(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS DOUBLE) AS n,
                               CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE) /
                                 greatest(CAST(length(text) AS DOUBLE), 1.0) AS alpha,
                               CAST(length(text) AS DOUBLE) AS n_chars
                        FROM documents),
              qx AS (SELECT doc_id,
                            round((least(1.0, n/64.0) + alpha +
                                   least(1.0, (n_chars/greatest(n, 1.0))/8.0)) / 3.0, 6) AS q
                     FROM qbase),
              r AS (SELECT cluster_id, doc_id, q,
                           row_number() OVER (PARTITION BY cluster_id
                                              ORDER BY q DESC, doc_id ASC) AS rn,
                           count(*) OVER (PARTITION BY cluster_id) AS n_members
                    FROM cl JOIN qx USING (doc_id))
         SELECT cluster_id, n_members, doc_id AS kept_doc_id, q AS best_q
         FROM r WHERE rn = 1 ORDER BY cluster_id""",

    // GraphRank's 20 damped iterations UNROLLED as chained CTEs (no
    // recursive aggregation needed — each prN references only prN-1), on
    // the same distinct event-type transition edges; dangling mass term
    // included for formulation parity (identically 0 on this graph).
    "q78_event_pagerank" -> {
      val n = "(SELECT n FROM nn)"
      def iter(prev: String, cur: String): String =
        s"""$cur AS MATERIALIZED (
              SELECT nd.node,
                     (1-0.85)/$n + 0.85*(coalesce(s.in_sum, 0) +
                       (SELECT coalesce(sum(p.rank), 0) FROM $prev p
                        WHERE p.node NOT IN (SELECT src FROM outdeg))/$n) AS rank
              FROM nodes nd LEFT JOIN (
                SELECT e.dst AS node, sum(p.rank/o.deg) AS in_sum
                FROM edges e JOIN $prev p ON e.src = p.node
                             JOIN outdeg o ON e.src = o.src
                GROUP BY e.dst) s ON nd.node = s.node)"""
      val iters = (1 to 20).map(i => iter(s"pr${i - 1}", s"pr$i")).mkString(",\n              ")
      s"""WITH eseq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events),
          edges AS MATERIALIZED (SELECT DISTINCT prev AS src, event_type AS dst
                    FROM eseq WHERE prev IS NOT NULL),
          nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
          nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
          outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
          pr0 AS MATERIALIZED (SELECT node, 1.0/$n AS rank FROM nodes),
          $iters
         SELECT node AS event_type, round(rank, 6) AS rank FROM pr20
         ORDER BY event_type"""
    },

    // q74's hashed-bucket convention + q62's rounded-DECIMAL-sum
    // discipline; the double ratio multiplies the same operands in the
    // same order as the Spark side
    "q79_dsir_weights" ->
      """WITH tok AS (SELECT doc_id, lang,
                             unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                      FROM documents),
              tfb AS (SELECT doc_id, lang,
                             ('0x'||substr(md5(token),1,8))::BIGINT % 64 AS bucket,
                             CAST(count(*) AS BIGINT) AS tf
                      FROM tok GROUP BY doc_id, lang, bucket),
              tgt AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS ct
                      FROM tfb WHERE lang = 'en' GROUP BY bucket),
              rw AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS cr
                     FROM tfb GROUP BY bucket),
              tot AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) AS tt,
                             CAST(sum(tf) AS BIGINT) AS tr
                      FROM tfb),
              stats AS (SELECT r.bucket,
                               CAST(round(log2(
                                 ((COALESCE(t.ct, 0) + 1)::DOUBLE * (tr + 64)::DOUBLE) /
                                 ((r.cr + 1)::DOUBLE * (tt + 64)::DOUBLE)), 6)
                                    AS DECIMAL(18,6)) AS lr
                        FROM rw r LEFT JOIN tgt t USING (bucket) CROSS JOIN tot)
         SELECT f.doc_id, CAST(sum(f.tf) AS BIGINT) AS n_tokens,
                CAST(sum(lr * f.tf) AS DOUBLE) AS dsir_weight
         FROM tfb f JOIN stats USING (bucket)
         GROUP BY f.doc_id ORDER BY f.doc_id""",

    // q27's shingle convention, hashed to the 60-bit md5-prefix BIGINT
    // (collisions, if any, are byte-identical in both engines)
    "q80_dup_ngram_frac" ->
      s"""WITH tk AS (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
              sh AS (SELECT doc_id, $shSql AS sh FROM tk),
              e AS (SELECT doc_id, ${graft.functions.PortableHash.duckdbMd5Long("s", 15)} AS h
                    FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
              dfq AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY h)
         SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
                CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
                round(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)*1.0 / count(*), 6) AS dup_ngram_frac
         FROM e JOIN dfq USING (h)
         GROUP BY e.doc_id ORDER BY e.doc_id""",

    // q39's seeded-cell assignment CTEs verbatim, then within-cell pairs
    "q81_semdedup" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
              cn AS (SELECT cid, cv, sqrt(${dot("cv", "cv")}) AS c_norm FROM cents),
              c AS (SELECT vec_id AS id, embedding AS v,
                           sqrt(${dot("embedding", "embedding")}) AS norm FROM embeddings),
              a0 AS (SELECT id, cid, v, norm,
                            ${dot("v", "cv")} / (norm * c_norm) AS cos
                     FROM c CROSS JOIN cn),
              asgn AS (SELECT id, cid AS cell, v, norm FROM (
                         SELECT *, row_number() OVER (PARTITION BY id
                                     ORDER BY cos DESC, cid) AS rn FROM a0)
                       WHERE rn = 1),
              dom AS (SELECT DISTINCT a.id AS id
                      FROM asgn a JOIN asgn b ON a.cell = b.cell AND b.id < a.id
                      WHERE round(${dot("a.v", "b.v")} / (a.norm * b.norm), 6) >= 0.4)
         SELECT s.id AS vec_id, s.cell,
                CAST(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
         FROM asgn s LEFT JOIN dom d USING (id) ORDER BY vec_id""",

    "q82_vocab_growth" ->
      s"""WITH n AS (SELECT CAST(ceil(count(*)/16.0) AS BIGINT) AS w FROM documents),
              tk0 AS (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
              tk AS (SELECT doc_id, unnest($shSql) AS token FROM tk0),
              fo AS (SELECT token, min(doc_id) AS first_doc FROM tk GROUP BY token),
              pb AS (SELECT CAST(floor(first_doc::DOUBLE / w) AS BIGINT) AS bucket,
                            CAST(count(*) AS BIGINT) AS new_tokens
                     FROM fo CROSS JOIN n GROUP BY 1)
         SELECT bucket, new_tokens,
                CAST(sum(new_tokens) OVER (ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
         FROM pb ORDER BY bucket""",

    // alpha = 0.5: the power is sqrt (correctly-rounded IEEE in both
    // engines, unlike pow); normalizer is an exact DECIMAL sum of the
    // 6dp-rounded weights
    "q83_mixture_weights" ->
      s"""WITH c AS (SELECT lang,
                            CAST(sum(len(regexp_extract_all(text, '$bpePatternSql'))) AS BIGINT) AS n_tokens
                     FROM documents GROUP BY lang),
              tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS nt FROM c),
              w AS (SELECT lang, n_tokens,
                           round(n_tokens::DOUBLE / nt, 6) AS p_raw,
                           CAST(round(sqrt(n_tokens::DOUBLE / nt), 6) AS DECIMAL(18,6)) AS w
                    FROM c CROSS JOIN tot),
              z AS (SELECT sum(w) AS z FROM w)
         SELECT lang, n_tokens, p_raw,
                round(w::DOUBLE / z::DOUBLE, 6) AS alpha_weight
         FROM w CROSS JOIN z ORDER BY lang""",

    // q46's md5 split + q74's hashed-bucket convention; each KL term is
    // q79's discipline — one double ratio of exact counts, log2, round
    // 6, exact DECIMAL sum
    "q84_distribution_drift" ->
      """WITH tok AS (SELECT CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '0d' THEN 'test'
                                  WHEN md5(CAST(doc_id AS VARCHAR)) < '1a' THEN 'val'
                                  ELSE 'train' END AS split,
                             unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS token
                      FROM documents),
              tb AS (SELECT split, ('0x'||substr(md5(token),1,8))::BIGINT % 64 AS bucket,
                            CAST(count(*) AS BIGINT) AS c
                     FROM tok GROUP BY split, bucket),
              scaffold AS (SELECT s.split, b.bucket
                           FROM (SELECT DISTINCT split FROM tb WHERE split <> 'train') s
                           CROSS JOIN (SELECT DISTINCT bucket FROM tb) b),
              p AS (SELECT bucket, c AS cp FROM tb WHERE split = 'train'),
              tp AS (SELECT CAST(sum(c) AS BIGINT) AS tp FROM tb WHERE split = 'train'),
              tq AS (SELECT split, CAST(sum(c) AS BIGINT) AS tq
                     FROM tb WHERE split <> 'train' GROUP BY split),
              terms AS (SELECT sc.split,
                               CAST(round(
                                 ((COALESCE(cp, 0) + 1)::DOUBLE / (tp + 64)::DOUBLE) *
                                 log2(((COALESCE(cp, 0) + 1)::DOUBLE * (tq + 64)::DOUBLE) /
                                      ((COALESCE(q.c, 0) + 1)::DOUBLE * (tp + 64)::DOUBLE)), 6)
                                    AS DECIMAL(18,6)) AS term
                        FROM scaffold sc
                        LEFT JOIN tb q ON q.split = sc.split AND q.bucket = sc.bucket
                        LEFT JOIN p ON p.bucket = sc.bucket
                        CROSS JOIN tp JOIN tq ON tq.split = sc.split)
         SELECT split, CAST(sum(term) AS DOUBLE) AS kl_bits
         FROM terms GROUP BY split ORDER BY split""",

    // pair generation over the distinct-word vocabulary weighted by word
    // frequency — range(1, len) is exclusive-end, matching Spark's
    // inclusive sequence(1, len-1)
    "q85_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split_regex(text, '[ \t\n\x0b\f\r]+')) AS word
                    FROM documents),
              v AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
                    FROM w WHERE len(word) >= 2 GROUP BY word),
              p AS (SELECT unnest(list_transform(range(1, len(word)),
                                 i -> substr(word, i, 2))) AS pair, freq
                    FROM v),
              c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p GROUP BY pair)
         SELECT pair, n FROM c ORDER BY n DESC, pair LIMIT 20""",

    // q26's verified edges (a < b); id-ordered enumeration e(a,b) ⋈
    // e(b,c) ⋈ e(a,c) yields each triangle once, equal to the engine's
    // degree-oriented canonical output as a SET
    "q86_dup_triangles" ->
      s"""WITH $minhashPairsCte,
              e AS (SELECT doc_a AS a, doc_b AS b FROM v WHERE jaccard >= 0.5)
         SELECT e1.a AS doc_a, e1.b AS doc_b, e2.b AS doc_c
         FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
         ORDER BY doc_a, doc_b, doc_c""",

    // q83's weight CTEs verbatim, budget via exact micro-scaled integer
    // arithmetic, then q59's single-window greedy prefix (the engine's
    // two-level form equals it for every shard width — ShardingSpec)
    "q88_mixture_sample" ->
      s"""WITH c AS (SELECT lang,
                            CAST(sum(len(regexp_extract_all(text, '$bpePatternSql'))) AS BIGINT) AS n_tokens
                     FROM documents GROUP BY lang),
              tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS nt FROM c),
              w AS (SELECT lang, n_tokens,
                           CAST(round(sqrt(n_tokens::DOUBLE / nt), 6) AS DECIMAL(18,6)) AS w
                    FROM c CROSS JOIN tot),
              z AS (SELECT sum(w) AS z FROM w),
              aw AS (SELECT lang, round(w::DOUBLE / z::DOUBLE, 6) AS alpha_weight
                     FROM w CROSS JOIN z),
              b AS (SELECT lang,
                           ((nt // 4) * CAST(round(alpha_weight * 1e6, 0) AS BIGINT)) // 1000000 AS budget
                    FROM aw CROSS JOIN tot),
              s AS (SELECT doc_id, lang,
                           len(regexp_extract_all(text, '$bpePatternSql')) AS toks,
                           md5(CAST(doc_id AS VARCHAR)) AS h
                    FROM documents),
              x AS (SELECT s.*, b.budget,
                           coalesce(sum(toks) OVER (PARTITION BY s.lang ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                    FROM s JOIN b USING (lang))
         SELECT lang, CAST(max(budget) AS BIGINT) AS budget,
                count(*) AS n_docs_kept,
                CAST(sum(toks) AS BIGINT) AS n_tokens_kept
         FROM x WHERE cum_before < budget
         GROUP BY lang ORDER BY lang""",

    // BpeTrainer's 6 fixed rounds UNROLLED as chained CTEs (the q78
    // pattern): per round, adjacent-pair count over the sentinel-encoded
    // vocabulary, winner by (n DESC, pair), greedy merge via replace()
    // on the chr(1)/chr(2)-wrapped symbols — DuckDB's replace resumes
    // after the matched region, matching Spark's UTF8String.replace
    // (BpeTrainerSpec's run-of-4 case pins the shared semantics).
    "q87_bpe_train" ->
      s"""WITH ${bpeTrainCtes(6)}
         ${(1 to 6).map(k => s"SELECT $k AS merge_rank, pair, n FROM win$k")
        .mkString(" UNION ALL ")} ORDER BY merge_rank""",

    // the q87 chain (word column carried through the rounds), then the
    // APPLY join: per-doc word counts x symbols-per-word from the final
    // merged vocabulary; one end-sentinel per symbol makes the token
    // count a pure length difference. Single-char words (outside the
    // trainer's vocabulary filter) fall back to character count.
    "q93_bpe_tokenize" ->
      s"""WITH ${bpeTrainCtes(6)},
              tokv AS (SELECT word,
                              CAST(len(enc) - len(replace(enc, chr(2), '')) AS BIGINT) AS n_sym
                       FROM v6),
              dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
                     FROM (SELECT doc_id,
                                  unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS word
                           FROM documents)
                     GROUP BY doc_id, word)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
                CAST(sum(tf * coalesce(n_sym, len(word))) AS BIGINT) AS n_bpe_tokens
         FROM dw LEFT JOIN tokv USING (word)
         GROUP BY doc_id ORDER BY doc_id""",

    "q28_simhash" ->
      s"""WITH tk AS (SELECT doc_id, unnest(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS tok FROM documents),
              th AS (SELECT doc_id, ${graft.functions.PortableHash.duckdbMd5Long("tok", 15)} AS h FROM tk),
              bits AS (SELECT doc_id, j,
                              CASE WHEN sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) > 0
                                   THEN 1::BIGINT << j ELSE 0::BIGINT END AS bv
                       FROM th CROSS JOIN (SELECT unnest(range(60)) AS j) GROUP BY doc_id, j),
              sim AS (SELECT doc_id, CAST(sum(bv) AS BIGINT) AS sim FROM bits GROUP BY doc_id),
              ch AS (SELECT doc_id, sim, c, (sim >> CAST(15*c AS INTEGER)) & 32767 AS cv
                     FROM sim CROSS JOIN (SELECT unnest(range(4)) AS c)),
              cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b, l.sim AS sa, r.sim AS sb
                       FROM ch l JOIN ch r ON l.c = r.c AND l.cv = r.cv AND l.doc_id < r.doc_id)
         SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY doc_a, doc_b""",

    "q27_ngram_jaccard" ->
      s"""WITH s AS (SELECT doc_id, lang, $shSql AS sh
             FROM (SELECT doc_id, lang, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents)),
              p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           len(list_intersect(a.sh, b.sh))*1.0 /
                           len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
                    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM p
         WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""",

    "q29_knn_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
              c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
              scored AS (SELECT query_id, neighbor_id,
                    ${dot("cv", "qv")} / (sqrt(${dot("cv", "cv")}) * sqrt(${dot("qv", "qv")})) AS cos
                 FROM c JOIN q ON neighbor_id <> query_id),
              ranked AS (SELECT query_id, neighbor_id, cos,
                    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
                 FROM scored)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    "q39_ann_ivf" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
              cn AS (SELECT cid, cv, sqrt(${dot("cv", "cv")}) AS c_norm FROM cents),
              c AS (SELECT vec_id AS id, embedding AS v,
                           sqrt(${dot("embedding", "embedding")}) AS norm FROM embeddings),
              a0 AS (SELECT id, cid, v, norm,
                            ${dot("v", "cv")} / (norm * c_norm) AS cos
                     FROM c CROSS JOIN cn),
              asgn AS (SELECT id, cid AS cell, v, norm FROM (
                         SELECT *, row_number() OVER (PARTITION BY id
                                     ORDER BY cos DESC, cid) AS rn FROM a0)
                       WHERE rn = 1),
              q AS (SELECT vec_id AS query_id, embedding AS qv,
                           sqrt(${dot("embedding", "embedding")}) AS q_norm
                    FROM embeddings WHERE vec_id < 8),
              p0 AS (SELECT query_id, cid, qv, q_norm,
                            ${dot("qv", "cv")} / (q_norm * c_norm) AS cos
                     FROM q CROSS JOIN cn),
              probes AS (SELECT query_id, cid AS cell, qv, q_norm FROM (
                           SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, cid) AS rn FROM p0)
                         WHERE rn <= 4),
              scored AS (SELECT p.query_id, a.id AS neighbor_id,
                                ${dot("v", "qv")} / (norm * q_norm) AS cos
                         FROM asgn a JOIN probes p ON a.cell = p.cell
                         WHERE a.id <> p.query_id),
              ranked AS (SELECT query_id, neighbor_id, cos,
                                row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
                         FROM scored)
         SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    "q30_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding,
                     list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1024.0) AS BIGINT)) AS q
                FROM embeddings),
              bk AS (SELECT vec_id, ${annBucketsSql(24, 4, 64)} AS bks FROM e),
              tb AS (SELECT vec_id, unnest(range(24)) AS tbl, unnest(bks) AS bucket FROM bk),
              cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
                       FROM tb l JOIN tb r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id),
              v AS (SELECT id_a, id_b,
                    ${dot("x.embedding", "y.embedding")} /
                    (sqrt(${dot("x.embedding", "x.embedding")}) *
                     sqrt(${dot("y.embedding", "y.embedding")})) AS cos
                 FROM cand JOIN e x ON id_a = x.vec_id JOIN e y ON id_b = y.vec_id)
         SELECT id_a, id_b, round(cos, 4) AS cosine FROM v
         WHERE cos >= 0.4 ORDER BY id_a, id_b""",

    "q31_neardup_exact" ->
      s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
              p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    ${dot("a.embedding", "b.embedding")} /
                    (sqrt(${dot("a.embedding", "a.embedding")}) *
                     sqrt(${dot("b.embedding", "b.embedding")})) AS cos
                 FROM v a JOIN v b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, round(cos, 4) AS cosine FROM p
         WHERE cos >= 0.4 ORDER BY id_a, id_b""",

    "q42_multimodal_resize" ->
      """WITH f AS (SELECT doc_id,
                  list_transform(range(0, CAST(ceil(length(text)/64.0) AS INT)), i ->
                    list_sum(list_transform(range(CAST(64*i+1 AS INT),
                                                  CAST(least(64*(i+1), length(text))+1 AS INT)),
                                            j -> ord(substr(text, CAST(j AS INT), 1))))
                    * 1.0 / (least(64*(i+1), length(text)) - 64*i)) AS frames
           FROM documents WHERE length(text) > 0)
         SELECT doc_id, CAST(len(frames) AS INT) AS n_frames, CAST(k AS INT) AS k,
                round(frames[1 + CAST((k*len(frames))//8 AS INT)], 6) AS v
         FROM f CROSS JOIN (SELECT unnest(range(0, 8)) AS k)
         ORDER BY doc_id, k""",

    "q32_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS content_md5,
                CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE)/64.0) AS INT) AS n_frames
         FROM documents ORDER BY doc_id""",

    "q33_json_extract" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q34_time_bucket" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
                count(DISTINCT user_id) AS n_users
         FROM events GROUP BY day ORDER BY day""",

    "q20_exstream_explain" -> exstreamExplainSql,
    "q37_exstream_oracle" -> exstreamExplainSql,
    "q38_exstream_instability" -> exstreamInstabilitySql,
    "q41_exstream_by_group" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type AS feature,
                value + event_id*1e-6 AS v, epoch_us(ts) AS us FROM events),
              spans AS (SELECT user_id, (min(us)+max(us))/2 AS mid FROM e GROUP BY user_id),
              obs AS (SELECT e.user_id % 8 AS g, e.feature, e.v,
                             CASE WHEN e.us >= s.mid THEN 1 ELSE 0 END AS cls
                      FROM e JOIN spans s ON e.user_id = s.user_id),
              ${exstreamChainSql("g")}
         SELECT g AS group_id, string_agg(feature, ' ' ORDER BY rank) AS features,
                CAST(count(*) AS INT) AS n_features
         FROM kept GROUP BY g ORDER BY group_id""",

    "q36_worstcase_shuffle" ->
      s"""WITH e AS (SELECT user_id, CAST(floor(value/100.0) AS DOUBLE) AS v, $clsSql AS cls
             FROM events),
              agg AS (SELECT user_id, CAST(sum(cls) AS BIGINT) AS n_ano,
                             CAST(sum(1-cls) AS BIGINT) AS n_ref, count(*) AS n
                      FROM e GROUP BY user_id),
              ok AS (SELECT * FROM agg WHERE n_ano > 0 AND n_ref > 0),
              runs AS (SELECT e.user_id, e.v, e.cls,
                              row_number() OVER (PARTITION BY e.user_id, e.v ORDER BY e.cls) - 1 AS i,
                              sum(CASE WHEN e.cls = 0 THEN 1 ELSE 0 END)
                                OVER (PARTITION BY e.user_id, e.v) AS nr,
                              sum(CASE WHEN e.cls = 1 THEN 1 ELSE 0 END)
                                OVER (PARTITION BY e.user_id, e.v) AS na
                       FROM e JOIN ok ON e.user_id = ok.user_id),
              consts AS (SELECT *,
                              CASE WHEN nr > na THEN 1 ELSE 0 END AS sm,
                              CASE WHEN nr < na THEN 1 ELSE 0 END AS bg,
                              CASE WHEN (CASE WHEN nr > na THEN 1 ELSE 0 END) <> 0
                                   THEN 0 ELSE 1 END AS st
                       FROM runs),
              rw AS (SELECT user_id, v, i,
                            CASE WHEN nr = 0 OR na = 0 THEN cls
                                 WHEN nr <> na THEN
                                   CASE WHEN i >= st AND i < 2*least(nr, na)
                                             AND (i - st) % 2 = 0
                                        THEN sm ELSE bg END
                                 ELSE i % 2 + 1 END AS rcls
                     FROM consts),
              o AS (SELECT user_id, rcls,
                           row_number() OVER (PARTITION BY user_id ORDER BY v, i) AS rn
                    FROM rw),
              chg AS (SELECT user_id, rcls, rn,
                             CASE WHEN rcls <> lag(rcls) OVER (PARTITION BY user_id ORDER BY rn)
                                  THEN 1 ELSE 0 END AS is_new
                      FROM o),
              sg AS (SELECT user_id, rn,
                            sum(is_new) OVER (PARTITION BY user_id ORDER BY rn
                                              ROWS UNBOUNDED PRECEDING) AS seg_id
                     FROM chg),
              segs AS (SELECT user_id, seg_id, count(*) AS seg_len FROM sg GROUP BY user_id, seg_id),
              segs2 AS (SELECT s.*, max(seg_id) OVER (PARTITION BY user_id) AS last_seg FROM segs s),
              se AS (SELECT s.user_id,
                            coalesce(sum(CASE WHEN s.seg_id <> s.last_seg
                              THEN (s.seg_len*1.0/a.n) * ln(1.0/(s.seg_len*1.0/a.n)) END), 0.0) AS seg_ent
                     FROM segs2 s JOIN ok a ON s.user_id = a.user_id
                     GROUP BY s.user_id)
         SELECT a.user_id, a.n_ano, a.n_ref,
                round(se.seg_ent, 6) AS segmentation_entropy,
                round(CASE WHEN se.seg_ent = 0.0 THEN 1.0/0.0 ELSE ($ceSql)/se.seg_ent END, 6) AS reward
         FROM ok a JOIN se ON a.user_id = se.user_id ORDER BY a.user_id""",

    "q35_distance_profile" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS sec, event_id, value + event_id*1e-6 AS v FROM events),
              o AS (SELECT user_id, v,
                           row_number() OVER (PARTITION BY user_id ORDER BY sec, event_id) AS rn,
                           count(*) OVER (PARTITION BY user_id) AS n
                    FROM e),
              users AS (SELECT user_id, max(n) AS n FROM o GROUP BY user_id HAVING max(n) >= 8),
              p AS (SELECT user_id, rn AS k, v AS q FROM o WHERE rn <= 8),
              ps AS (SELECT user_id, sum(q) AS sq, sum(q*q) AS sqq FROM p GROUP BY user_id),
              win AS (SELECT o.user_id, o.rn - p.k + 1 AS start,
                             sum(o.v) AS sw, sum(o.v*o.v) AS sww, sum(o.v*p.q) AS swq, count(*) AS m
                      FROM o JOIN p ON o.user_id = p.user_id
                      JOIN users u ON o.user_id = u.user_id
                      WHERE o.rn - p.k + 1 >= 1 AND o.rn - p.k + 1 <= u.n - 7
                      GROUP BY o.user_id, o.rn - p.k + 1
                      HAVING count(*) = 8),
              dists AS (SELECT w.user_id,
                    sqrt(greatest(16.0*(1.0 -
                      (w.swq - 8*(ps.sq/8)*(w.sw/8)) /
                      (8 * sqrt(greatest(ps.sqq/8 - (ps.sq/8)*(ps.sq/8), 0.0)) *
                           sqrt(greatest(w.sww/8 - (w.sw/8)*(w.sw/8), 0.0)))), 0.0)) AS dist
                 FROM win w JOIN ps ON w.user_id = ps.user_id)
         SELECT d.user_id, CAST(u.n AS INT) AS n,
                CAST(count(*) FILTER (WHERE dist <= 3.0) AS INT) AS n_matches
         FROM dists d JOIN users u ON d.user_id = u.user_id
         GROUP BY d.user_id, u.n ORDER BY d.user_id""")
}
