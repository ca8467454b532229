package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import graft.expressions._

/** SURVEY §2 E-block specs: SQL registration (e1) and native-codegen
  * expressions (e2). */
class ExtensionsSpec extends SparkSpecBase {

  test("e1: graft functions callable from plain SQL after install") {
    GraftExtensions.install(spark)
    assert(spark.sql("SELECT quack('Anna')").head().getString(0) == "Quack Anna 🐥")
    val v = spark.sql("SELECT quack_spark_version('Anna')").head().getString(0)
    assert(v.startsWith("Quack Anna, my linked Spark version is "))
    assert(v.contains(org.apache.spark.SPARK_VERSION))
    val cos = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d))").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val jac = spark.sql(
      "SELECT jaccard_sim(array('a','b','c'), array('b','c','d'))").head().getDouble(0)
    assert(math.abs(jac - 0.5) < 1e-12)
    assert(spark.sql("SELECT size(minhash_bands(array('x','y')))").head().getInt(0) == 32)
    assert(spark.sql("SELECT size(hyperplane_buckets(array(1.0d, -2.0d)))").head().getInt(0) == 48)
    spark.sql("SELECT simhash64(array('x','y'))").head().getLong(0) // total
  }

  test("e1: wrong arity fails analysis with a clear message, never silently drops args") {
    GraftExtensions.install(spark)
    for (bad <- Seq(
        "SELECT cdc_ends('ab', 1)",       // extra arg must not be ignored
        "SELECT quack('a', 'b')",
        "SELECT simhash64(array('x'), 9)",
        "SELECT minhash_sig(array('x'), 2)",
        "SELECT cosine_sim(array(1.0d))", // too few on a 2-arg kernel
        "SELECT sig_match_frac(array(1L))")) {
      val ex = intercept[Exception](spark.sql(bad).head())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("expects exactly")),
        s"`$bad` must raise the arity error, got: ${ex.getMessage}")
    }
  }

  test("e1: spark.sql.extensions config path registers functions at session build") {
    // TestSpark's context was built with
    // spark.sql.extensions=graft.GraftExtensions (a STATIC conf); a fresh
    // session derived from it must resolve quack with no install() call.
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT quack('q')").head().getString(0).startsWith("Quack q"))
  }

  test("e1: install registers a function only where the registry lacks its exact builder") {
    // a fresh session holds the builders the extensions conf injected,
    // each with its own ExpressionInfo; install must leave them as they are
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    def usages = GraftExtensions.functions.map { case (n, _, _) =>
      registry.lookupFunction(FunctionIdentifier(n)).map(_.getUsage) }
    val before = usages
    GraftExtensions.install(fresh)
    assert(usages == before)
    GraftExtensions.functions.foreach { case (n, _, b) =>
      assert(registry.lookupFunctionBuilder(FunctionIdentifier(n)).exists(_ eq b), n)
    }
    // a missing function is registered
    assert(registry.dropFunction(FunctionIdentifier("quack")))
    assert(registry.lookupFunctionBuilder(FunctionIdentifier("quack")).isEmpty)
    GraftExtensions.install(fresh)
    assert(fresh.sql("SELECT quack('q')").head().getString(0).startsWith("Quack q"))
  }

  test("e1: SparkEntry.queries installs the functions on a session that lacks them") {
    // a session built without the extensions conf (the mains', an
    // external caller's) relies on the install each entry runs
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (n, _, _) =>
      assert(registry.dropFunction(FunctionIdentifier(n)), n)
    }
    intercept[Exception](fresh.sql("SELECT quack('q')").head())
    for (name <- Seq("q29_quack", "d2_minhash_lsh")) {
      val got = SparkEntry.queries(name)(fresh, sfTiny).collect().toSeq
      val want = SparkEntry.queries(name)(spark, sfTiny).collect().toSeq
      assert(got.nonEmpty && got == want, name)
      spark.catalog.clearCache()
      graft.queries.Pipeline.resetScalarCaches()
    }
  }

  test("e6: injected parser makes FROM 'path' native Spark SQL") {
    // the reference's headline syntax, through the REAL injectParser
    // path: this session's context was built with
    // spark.sql.extensions=graft.GraftExtensions, so a fresh session
    // parses path-literal table refs with no rewrite call
    val fresh = spark.newSession()
    val n = fresh.sql(s"SELECT count(*) AS n FROM '$sfTiny/nation.parquet'")
      .head().getLong(0)
    assert(n == 25)
    // join position resolves too, and ordinary string literals survive
    val r = fresh.sql(
      s"""SELECT concat('from ', r.r_name) AS tag
          FROM '$sfTiny/nation.parquet' n
          JOIN '$sfTiny/region.parquet' r ON n.n_regionkey = r.r_regionkey
          WHERE n.n_nationkey = 0""").head().getString(0)
    assert(r.startsWith("from "), r)
    // glob path literals route through too (the reference's Glob surface)
    val g = fresh.sql(s"SELECT count(*) AS n FROM '$sfTiny/nat*.parquet'")
      .head().getLong(0)
    assert(g == 25)
  }

  test("e1: JaccardPrefilter rule derives size bounds for threshold predicates") {
    GraftExtensions.install(spark)
    import spark.implicits._
    // parquet-backed (a local relation is fully evaluated at optimize time)
    val dir = scratch("jacrule")
    Seq(
      (Seq("a", "b", "c", "d"), Seq("a", "b", "c", "e")), // J = 0.6
      (Seq("a"), Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")), // size-ratio prunable
      (Seq("x", "x", "x", "x"), Seq("x")) // set-J = 1.0 but raw sizes 4 vs 1
    ).toDF("x", "y").write.parquet(s"$dir/t.parquet")
    val df = spark.read.parquet(s"$dir/t.parquet")
    // provably-distinct inputs: bound derived, results unchanged
    val fired = df.filter(org.apache.spark.sql.functions
      .expr("jaccard_sim(array_distinct(x), array_distinct(y)) >= 0.5"))
    val opt = fired.queryExecution.optimizedPlan.toString
    assert(opt.contains("size("), opt)
    assert(fired.count() == 2)
    // idempotency: fixpoint reached with exactly one bound pair
    assert("size\\(array_distinct\\(x".r.findAllIn(opt).length <= 2, opt)
    // raw (possibly-duplicated) inputs: the bound would be UNSOUND
    // (dup-heavy row has set-J 1.0 but raw sizes 4 vs 1) — must not fire
    val raw = df.filter(org.apache.spark.sql.functions.expr("jaccard_sim(x, y) >= 0.5"))
    assert(!raw.queryExecution.optimizedPlan.toString.contains("size("))
    assert(raw.count() == 2)
  }

  test("e1: JaccardPrefilter chases rename chains and scales round() relaxation") {
    GraftExtensions.install(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = scratch("jacrule2")
    Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e")),
      (3L, Seq("z"))
    ).toDF("id", "words").write.parquet(s"$dir/t.parquet")
    // the d15 shape: set_a ← wset ← array_distinct(words) — two alias
    // levels deep plus a rename through the join projection. The prune
    // regressed to not-firing here in round 2; must fire again.
    val w = spark.read.parquet(s"$dir/t.parquet")
      .select(col("id"), array_distinct(col("words")).as("wset"))
    val a = w.select(col("id").as("id_a"), col("wset").as("set_a"))
    val b = w.select(col("id").as("id_b"), col("wset").as("set_b"))
    val joined = a.join(b, col("id_a") < col("id_b") &&
      round(expr("jaccard_sim(set_a, set_b)"), 4) >= 0.5)
    val opt = joined.queryExecution.optimizedPlan.toString
    assert(opt.contains("size("), opt)
    // round(J, 4) >= 0.5 relaxes by the half-ulp of scale 4 (5e-5), not
    // the old blanket 0.05 — the bound is 0.49995 minus a two-ulp guard
    // (provably conservative under pow/subtraction rounding), so the
    // plan carries 0.4999499999999999..., never 0.45
    assert(opt.contains("0.49994999"), opt)
    assert(!opt.contains("0.45"), opt)
    // and the relaxed bound still loses no qualifying pair
    assert(joined.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)))
  }

  test("e1: JaccardPrefilter set-ness proof survives a first() aggregate") {
    GraftExtensions.install(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = scratch("jacrule3")
    Seq(
      (1L, Seq("a", "b", "c", "d")),
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e")),
      (3L, Seq("z"))
    ).toDF("id", "words").write.parquet(s"$dir/t.parquet")
    // the d15 collapse shape: set columns routed through a
    // groupBy(...).agg(first(wset)) — the chain is
    // set_a ← wset ← first(wset') ← array_distinct(words), crossing an
    // Aggregate alias level. first() emits one group value verbatim, so
    // set-ness carries and the bound must fire.
    val reps = spark.read.parquet(s"$dir/t.parquet")
      .select(col("id"), array_distinct(col("words")).as("wset"))
      .groupBy(col("id")).agg(first(col("wset")).as("wset"))
    val a = reps.select(col("id").as("id_a"), col("wset").as("set_a"))
    val b = reps.select(col("id").as("id_b"), col("wset").as("set_b"))
    val joined = a.join(b, col("id_a") < col("id_b") &&
      expr("jaccard_sim(set_a, set_b)") >= 0.5)
    val opt = joined.queryExecution.optimizedPlan.toString
    assert(opt.contains("size("), opt)
    assert(joined.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)))
  }

  test("e2: hot-path expressions are native codegen, not CodegenFallback") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
    val q = Quack(Literal("x"))
    val c = CosineSimilarity(
      Literal.create(Array(1.0), ArrayType(DoubleType)),
      Literal.create(Array(1.0), ArrayType(DoubleType)))
    val j = JaccardSim(
      Literal.create(Array("a"), ArrayType(StringType)),
      Literal.create(Array("a"), ArrayType(StringType)))
    assert(!q.isInstanceOf[CodegenFallback])
    assert(!c.isInstanceOf[CodegenFallback])
    assert(!j.isInstanceOf[CodegenFallback])
    assert(!QuackVersion(q).isInstanceOf[CodegenFallback])
    val sub = SubsetSorted(
      Literal.create(Array("a"), ArrayType(StringType)),
      Literal.create(Array("a"), ArrayType(StringType)))
    assert(!sub.isInstanceOf[CodegenFallback])
  }

  test("e2: jaccard kernels fuse into whole-stage codegen and agree") {
    GraftExtensions.install(spark)
    val df = Tables.load(spark, sfTiny, "documents")
      .selectExpr("array_sort(array_distinct(split(trim(text), '\\\\s+'))) AS w")
      .selectExpr("jaccard_sim(w, w) AS h", "jaccard_sim_sorted(w, w) AS m")
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefix = fused into WholeStageCodegen stage n (the stage
    // number varies with how the upstream lambda project splits stages)
    assert("""\*\(\d+\) Project \[jaccard_sim""".r.findFirstIn(plan).isDefined, plan)
    // both kernels on identical sorted-distinct input: J = 1.0, equal
    assert(df.collect().forall(r => r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0))
  }

  test("e2: checkSorted debug mode fails fast on unsorted jaccard_sim_sorted input") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    def j(arr: Array[String]) = JaccardSim(
      Literal.create(arr, ArrayType(StringType)),
      Literal.create(arr, ArrayType(StringType)),
      assumeSorted = true)
    val prev = JaccardSim.checkSorted
    try {
      JaccardSim.checkSorted = true
      // sorted+distinct: passes the assertion, normal result
      assert(j(Array("a", "b", "c")).eval(null) == 1.0)
      // out of order → immediate error instead of silent garbage
      val ex1 = intercept[IllegalArgumentException](j(Array("b", "a")).eval(null))
      assert(ex1.getMessage.contains("not sorted"))
      // duplicates (strictness violation) → same error
      intercept[IllegalArgumentException](j(Array("a", "a", "b")).eval(null))
      // with the flag off, the unchecked kernel is back (undefined result,
      // but no throw) — the hot path must stay verification-free
      JaccardSim.checkSorted = false
      j(Array("b", "a")).eval(null)
    } finally JaccardSim.checkSorted = prev
  }

  test("e2: cosine_sim codegen path evaluates inside whole-stage codegen") {
    // parquet-backed input (a local relation would be constant-folded at
    // optimization time, bypassing codegen entirely)
    GraftExtensions.install(spark)
    val df = Tables.load(spark, sfTiny, "embeddings")
      .selectExpr("cast(embedding as array<double>) AS v")
      .selectExpr("cosine_sim(v, v) AS c")
    // the `*(n)` prefix marks operators fused into a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosine_sim"), plan)
    val vals = df.collect().map(_.getDouble(0))
    assert(vals.forall(v => math.abs(v - 1.0) < 1e-9)) // cos(v, v) = 1
  }

  test("e9: engine-native bloom functions are SQL-callable via the extension") {
    // the session is extension-built (spark.sql.extensions config path),
    // so bloom_agg/bloom_might_contain resolve without install(); the
    // filter reaches the probe as a scalar subquery — the same plan
    // shape Spark's InjectRuntimeFilter produces internally
    val hit = spark.sql("""
      SELECT bloom_might_contain(
               (SELECT bloom_agg(xxhash64(CAST(id AS STRING)), CAST(1000 AS BIGINT))
                FROM range(100)),
               xxhash64(CAST(5 AS STRING))) AS hit""").head.getBoolean(0)
    assert(hit, "inserted key must probe true")
    val miss = spark.sql("""
      SELECT bloom_might_contain(
               (SELECT bloom_agg(xxhash64(CAST(id AS STRING)), CAST(1000 AS BIGINT))
                FROM range(100)),
               xxhash64(CAST(987654 AS STRING))) AS hit""").head.getBoolean(0)
    assert(!miss, "a far-away key must probe false in a near-empty sketch")
  }
}
