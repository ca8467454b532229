package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions._

/** Session extension wiring, the Spark analogue of the reference's
  * DuckDB extension-load step (`LOAD 'hadoopfs.duckdb_extension'`;
  * /root/reference/src/hadoopfs_extension.cpp:1-31).
  *
  * Two entry points:
  *  - cluster-config path: `--conf spark.sql.extensions=graft.GraftExtensions`
  *  - programmatic path: `GraftExtensions.install(spark)` on a live session;
  *    every `SparkEntry.queries` entry calls it on the session it is given.
  *
  * Registers the reference's two demo scalar functions (quack /
  * quack_spark_version, the openssl-version analogue) plus the engine's
  * native similarity/dedup kernels so they are usable from plain SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // plan-rewrite level: auto-derive cheap size bounds for jaccard
    // threshold predicates (graft.plans.JaccardPrefilter)
    ext.injectOptimizerRule(_ => graft.plans.JaccardPrefilter)
    // whole-operator level: native AS-OF join (marker rewrite + strategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // parser level: the reference's `FROM 'hdfs://...'` path-literal
    // table syntax (graft.sources.PathSyntaxParser)
    ext.injectParser((_, parser) => new graft.sources.PathSyntaxParser(parser))
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[Quack].getName, null, name, usage,
      "", "", "", "misc_funcs", "1.0.0", "", "built-in")

  /** Fixed-arity guard for the plain registrations: a wrong argument
    * count must fail ANALYSIS with a clear message, not silently drop
    * the extra arguments (e.head) or throw an opaque index error
    * (e(1)). The variadic entries below keep their own `match` guards. */
  private def fixedArity(name: String, n: Int)(
      mk: Seq[Expression] => Expression): Seq[Expression] => Expression =
    (e: Seq[Expression]) => {
      if (e.length != n)
        throw new IllegalArgumentException(
          s"$name expects exactly $n argument${if (n == 1) "" else "s"}, got ${e.length}")
      mk(e)
    }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("quack", info("quack", "quack(name) - the reference extension's demo greeting"),
      fixedArity("quack", 1)(e => Quack(e.head))),
    ("quack_spark_version",
      info("quack_spark_version", "quack_spark_version(name) - greeting + linked engine version"),
      fixedArity("quack_spark_version", 1)(e => QuackVersion(e.head))),
    ("cosine_sim", info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two double arrays"),
      fixedArity("cosine_sim", 2)(e => CosineSimilarity(e(0), e(1)))),
    ("jaccard_sim", info("jaccard_sim", "jaccard_sim(a, b) - Jaccard similarity of two string-token sets"),
      fixedArity("jaccard_sim", 2)(e => JaccardSim(e(0), e(1)))),
    ("jaccard_sim_sorted", info("jaccard_sim_sorted",
      "jaccard_sim_sorted(a, b) - Jaccard via two-pointer merge. WARNING: both inputs MUST " +
        "be sorted ascending (binary order) and deduplicated, e.g. array_sort(array_distinct(x)); " +
        "anything else returns silently WRONG results - use jaccard_sim instead. " +
        "Set -Dgraft.jaccard.checkSorted=true to fail fast on violations."),
      fixedArity("jaccard_sim_sorted", 2)(e => JaccardSim(e(0), e(1), assumeSorted = true))),
    ("jaccard_sim_sorted_bail", info("jaccard_sim_sorted_bail",
      "jaccard_sim_sorted_bail(a, b, thr) - jaccard_sim_sorted with an early-exit bailout: " +
        "returns the exact Jaccard when it is (or can still reach) >= thr, or -1.0 as soon " +
        "as the remaining elements provably cannot reach thr - behavior-identical to " +
        "jaccard_sim_sorted for any consumer that filters at >= thr. thr must be a double " +
        "literal, interpreted at 5-decimal grain (pass the pre-rounding boundary: 0.79995 " +
        "for a round(J,4) >= 0.8 filter). Same sortedness contract as jaccard_sim_sorted."),
      fixedArity("jaccard_sim_sorted_bail", 3)(e => e(2) match {
        // a bare SQL literal like 0.79995 parses as DECIMAL(5,5), so
        // accept any numeric literal, not just DoubleType
        case lit: org.apache.spark.sql.catalyst.expressions.Literal =>
          val t = lit.dataType match {
            case org.apache.spark.sql.types.DoubleType =>
              lit.value.asInstanceOf[Double]
            case org.apache.spark.sql.types.FloatType =>
              lit.value.asInstanceOf[Float].toDouble
            case _: org.apache.spark.sql.types.DecimalType =>
              lit.value.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
            case other => throw new IllegalArgumentException(
              s"jaccard_sim_sorted_bail(a, b, thr) — thr must be a numeric literal, got $other")
          }
          if (t <= 0.0 || t > 1.0)
            throw new IllegalArgumentException(
              s"jaccard_sim_sorted_bail: threshold must be in (0, 1], got $t")
          JaccardSim(e(0), e(1), assumeSorted = true,
            bailBelow = Some(math.round(t * 100000)))
        case _ => throw new IllegalArgumentException(
          "jaccard_sim_sorted_bail(a, b, thr) — thr must be a numeric literal")
      })),
    ("is_subset_sorted", info("is_subset_sorted",
      "is_subset_sorted(a, b) - true iff a is a subset of b. WARNING: both inputs MUST " +
        "be sorted ascending (binary order) and deduplicated, e.g. array_sort(array_distinct(x)); " +
        "anything else returns silently WRONG results. " +
        "Set -Dgraft.jaccard.checkSorted=true to fail fast on violations."),
      fixedArity("is_subset_sorted", 2)(e => SubsetSorted(e(0), e(1)))),
    ("minhash_bands", info("minhash_bands",
      "minhash_bands(tokens[, bands]) - MinHash LSH band keys (128 hashes; bands controls the J threshold: 32 -> ~0.5, 16 -> ~0.8)"),
      (e: Seq[Expression]) => e match {
        case Seq(c) => MinHashBands(c)
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(b: Int, _)) =>
          MinHashBands(c, bands = b)
        case _ => throw new IllegalArgumentException("minhash_bands(tokens[, bands])")
      }),
    ("minhash_sig", info("minhash_sig",
      "minhash_sig(tokens) - raw 128-component MinHash signature for similarity estimation"),
      fixedArity("minhash_sig", 1)(e => MinHashSig(e.head))),
    ("minhash_sig16", info("minhash_sig16",
      "minhash_sig16(tokens) - 128 MinHash components truncated to 16 bits, packed 4 per " +
        "long (quarter-width transport for in-band match-fraction estimation; compare with " +
        "sig_match_frac16)"),
      fixedArity("minhash_sig16", 1)(e => MinHashSig(e.head, pack16 = true))),
    ("cdc_ends", info("cdc_ends",
      "cdc_ends(text) - 1-based content-defined chunk end positions (32-char window hash, divisor 64)"),
      fixedArity("cdc_ends", 1)(e => CdcEnds(e.head))),
    ("sig_match_frac", info("sig_match_frac",
      "sig_match_frac(a, b) - fraction of agreeing signature components (MinHash jaccard estimate)"),
      fixedArity("sig_match_frac", 2)(e => SigMatchFrac(e(0), e(1)))),
    ("first_shared_band", info("first_shared_band",
      "first_shared_band(a, b) - smallest index where two band-key arrays agree, or -1; " +
        "the emit-once primitive for banded LSH self-joins (keep only the collision at " +
        "bpos = first_shared_band(keys_a, keys_b) and the post-join dedup disappears)"),
      fixedArity("first_shared_band", 2)(e => FirstSharedBand(e(0), e(1)))),
    ("sig_match_frac16", info("sig_match_frac16",
      "sig_match_frac16(a, b) - agreeing-component fraction over minhash_sig16's packed " +
        "4-per-long 16-bit layout (denominator 4*len)"),
      fixedArity("sig_match_frac16", 2)(e => SigMatchFrac(e(0), e(1), packed16 = true))),
    ("simhash64", info("simhash64", "simhash64(words) - 64-bit SimHash signature"),
      fixedArity("simhash64", 1)(e => SimHash64(e.head))),
    ("heavy_hitters", info("heavy_hitters",
      "heavy_hitters(item, k) - Misra-Gries heavy-hitters sketch aggregate: returns the <=k " +
        "candidate items (every item with frequency > n/k is guaranteed present); " +
        "rerank candidates with an exact count pass for exact top-m"),
      (e: Seq[Expression]) => e match {
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(kk: Int, _)) =>
          MisraGries(c, kk)
        case _ => throw new IllegalArgumentException("heavy_hitters(item, k) — k must be an int literal")
      }),
    ("union_find", info("union_find",
      "union_find(a, b) - connected-components aggregate over the edges (a, b) of a group " +
        "(bigint node ids; (a, a) adds an isolated node): returns " +
        "array<struct<node, root, size>> in node order, root = the component's minimum id"),
      fixedArity("union_find", 2)(e => UnionFindAgg(e(0), e(1)))),
    ("term_counts", info("term_counts",
      "term_counts(words) - the distinct elements of a string array with their counts, " +
        "as array<struct<term, cnt>> in term order: the (term, count) groups of " +
        "explode(words) for one row, computed without a shuffle"),
      fixedArity("term_counts", 1)(e => TermCounts(e.head))),
    ("hyperplane_buckets",
      info("hyperplane_buckets",
        "hyperplane_buckets(vec[, tables, bits]) - multi-table sign-LSH bucket keys; " +
          "tables/bits tune the occupancy-vs-recall trade (bits should grow ~log2(n) " +
          "to hold per-bucket occupancy constant as the corpus scales)"),
      (e: Seq[Expression]) => e match {
        case Seq(c) => HyperplaneBuckets(c)
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(t: Int, _),
                    org.apache.spark.sql.catalyst.expressions.Literal(b: Int, _)) =>
          HyperplaneBuckets(c, t, b)
        case _ => throw new IllegalArgumentException(
          "hyperplane_buckets(vec[, tables, bits]) — tables/bits must be int literals")
      }),
    ("topk_by", info("topk_by",
      "topk_by(id, score, k) - per-group top-k aggregate under (score DESC, id ASC), " +
        "returned rank-ordered as array<struct<id, score>>; the sort-free alternative " +
        "to a row_number Window for small k"),
      (e: Seq[Expression]) => e match {
        case Seq(i, s, org.apache.spark.sql.catalyst.expressions.Literal(kk: Int, _)) =>
          TopKByScore(i, s, kk)
        case _ => throw new IllegalArgumentException(
          "topk_by(id, score, k) — k must be an int literal")
      }),
    ("hyperplane_packed16",
      info("hyperplane_packed16",
        "hyperplane_packed16(vec[, tables, bits]) - per-table sign-LSH signatures packed " +
          "four 16-bit lanes per long (quarter-width transport for the emit-once band join; " +
          "unpack_keys16 reproduces hyperplane_buckets' keys from it bit-for-bit)"),
      (e: Seq[Expression]) => e match {
        case Seq(c) => HyperplanePacked16(c)
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(t: Int, _),
                    org.apache.spark.sql.catalyst.expressions.Literal(b: Int, _)) =>
          HyperplanePacked16(c, t, b)
        case _ => throw new IllegalArgumentException(
          "hyperplane_packed16(vec[, tables, bits]) — tables/bits must be int literals")
      }),
    ("unpack_keys16", info("unpack_keys16",
      "unpack_keys16(packed, tables) - table-prefixed bucket keys ((t<<48)|lane) from " +
        "hyperplane_packed16's lanes; bit-identical to hyperplane_buckets for bits <= 16"),
      (e: Seq[Expression]) => e match {
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(t: Int, _)) =>
          UnpackKeys16(c, t)
        case _ => throw new IllegalArgumentException(
          "unpack_keys16(packed, tables) — tables must be an int literal")
      }),
    ("first_shared_lane16", info("first_shared_lane16",
      "first_shared_lane16(a, b[, tables]) - smallest table index with equal 16-bit lanes " +
        "in two hyperplane_packed16 arrays, or -1; the emit-once primitive over the packed " +
        "layout. Pass tables when tables % 4 != 0 so the zero pad lanes of the last word " +
        "can never report a match"),
      (e: Seq[Expression]) => e match {
        case Seq(a, b) => FirstSharedLane16(a, b)
        case Seq(a, b, org.apache.spark.sql.catalyst.expressions.Literal(t: Int, _)) =>
          FirstSharedLane16(a, b, t)
        case _ => throw new IllegalArgumentException(
          "first_shared_lane16(a, b[, tables]) — tables must be an int literal")
      }),
    ("asof_on", info("asof_on",
      "asof_on(lkey, rkey, ltime, rtime) - AS-OF join marker: use as the ENTIRE condition " +
        "of a left/inner join; the AsOfJoinRewrite rule replaces the join with the native " +
        "as-of operator (each left row matches the latest right row with equal key and " +
        "rtime <= ltime)"),
      (e: Seq[Expression]) => e match {
        case Seq(lk, rk, lt, rt) => graft.plans.AsOfOn(lk, rk, lt, rt)
        case _ => throw new IllegalArgumentException("asof_on(lkey, rkey, ltime, rtime)")
      }),
    // e9: the engine's OWN runtime-filter kernels (what Spark builds
    // internally for broadcast-join pruning) surfaced as SQL functions —
    // the sketch-membership primitive a 100 TB ingest pipeline needs
    // without shipping a join-sized state table (d47 consumes them).
    // bloom_agg returns the binary sketch; probe it via a scalar
    // subquery: bloom_might_contain((SELECT bloom_agg(...) FROM t), h).
    ("bloom_agg", info("bloom_agg",
      "bloom_agg(xxhash64(x)[, est_items[, num_bits]]) - Bloom-filter aggregate over " +
        "64-bit hashes; returns the filter as binary. Engine-native " +
        "BloomFilterAggregate: order-free bit-OR merge, O(bits) state."),
      (e: Seq[Expression]) => e match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, n) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
        case Seq(c, n, b) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
        case _ => throw new IllegalArgumentException(
          "bloom_agg(hash[, est_items[, num_bits]])")
      }),
    ("bloom_might_contain", info("bloom_might_contain",
      "bloom_might_contain(filter, xxhash64(x)) - probe a bloom_agg sketch; false means " +
        "DEFINITELY absent, true means present-or-false-positive. The filter argument " +
        "must be a constant or scalar subquery (engine rule)."),
      (e: Seq[Expression]) => e match {
        case Seq(f, v) =>
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(f, v)
        case _ => throw new IllegalArgumentException(
          "bloom_might_contain(filter, hash)")
      })
  )

  /** Idempotently register all graft functions, optimizer rules and the
    * planner strategy on a live session: the programmatic twin of the
    * spark.sql.extensions config path, which must be set at SparkContext
    * creation. `SparkEntry.queries` runs it for every entry it hands
    * out, so a session built without the extensions conf (the mains',
    * an external caller's) works too. A function is registered only
    * when the registry does not already hold its exact builder:
    * `functions` is one `val`, so a builder is compared by identity, and
    * a session that has them (through either path) is left untouched.
    * Synchronized: entries running at once on one session would
    * otherwise both register a missing function. */
  def install(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq builder))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.JaccardPrefilter))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.JaccardPrefilter
    if (!spark.experimental.extraOptimizations.contains(graft.plans.AsOfJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.AsOfJoinRewrite
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
  }
}
