package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.Pipeline
import graft.sources.GraftWriter

/** d20's labeling as one `union_find` aggregate per block and d22's
  * per-row `term_counts`: the kernels against plain-Scala references,
  * d20 on a mega-block against a reference union-find over d4's pairs,
  * and the job counts the two entries start. */
class RegroupFreeSpec extends SparkSpecBase {

  /** Connected components by breadth-first search: node → min node id. */
  private def refLabels(nodes: Iterable[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
    nodes.foreach(n => adj.getOrElseUpdate(n, Nil))
    edges.foreach { case (a, b) =>
      adj(a) = b :: adj.getOrElse(a, Nil)
      adj(b) = a :: adj.getOrElse(b, Nil)
    }
    val label = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { start =>
      if (!label.contains(start)) {
        val comp = scala.collection.mutable.ArrayBuffer(start)
        val seen = scala.collection.mutable.Set(start)
        var i = 0
        while (i < comp.length) {
          adj(comp(i)).foreach(n => if (seen.add(n)) comp += n)
          i += 1
        }
        val root = comp.min
        comp.foreach(label(_) = root)
      }
    }
    label.toMap
  }

  /** Three groups; in each, chains of 40 nodes whose edges arrive
    * reversed, duplicated and shuffled over 6 partitions, plus
    * isolated members given only as (x, x) self-edges. */
  private lazy val planted: (DataFrame, Map[Int, Map[Long, Long]]) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val byGroup = (0 until 3).map { g =>
      val chains = (0 until 5).flatMap { c =>
        val ids = rnd.shuffle((0 until 40).map(i => g * 10000L + c * 100L + i))
        ids.sliding(2).flatMap { case Seq(a, b) => Seq((a, b), (b, a)) }
      }
      val isolated = (0 until 7).map(i => g * 10000L + 9000L + i)
      val edges = chains ++ chains.take(20) ++ isolated.map(x => (x, x))
      g -> edges
    }
    val rows = rnd.shuffle(byGroup.flatMap { case (g, es) => es.map { case (a, b) => (g, a, b) } })
    val df = rows.toDF("grp", "a", "b").repartition(6)
    val want = byGroup.map { case (g, es) =>
      g -> refLabels(es.flatMap { case (a, b) => Seq(a, b) }, es)
    }.toMap
    (df, want)
  }

  private def unionFindOf(df: DataFrame): Map[Int, Seq[(Long, Long, Long)]] =
    df.groupBy("grp").agg(expr("union_find(a, b)").as("c"))
      .collect().map { r =>
        r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(c => (c.getLong(0), c.getLong(1), c.getLong(2)))
      }.toMap

  test("union_find labels equal a plain union-find over chains spanning partitions") {
    val (df, want) = planted
    assert(df.rdd.getNumPartitions == 6)
    def check(got: Map[Int, Seq[(Long, Long, Long)]]): Unit = {
      assert(got.keySet == want.keySet)
      want.foreach { case (g, labels) =>
        val rows = got(g)
        assert(rows.map(_._1) == labels.keys.toSeq.sorted, s"group $g: nodes out of order")
        val sizes = labels.values.groupBy(identity).map { case (r, v) => r -> v.size.toLong }
        rows.foreach { case (n, r, sz) =>
          assert(r == labels(n) && sz == sizes(r), s"group $g node $n: ($r, $sz)")
        }
      }
    }
    check(unionFindOf(df))
    // every group past the first falls back to the sort-based aggregate,
    // so the buffers cross the exchange serialized
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    try {
      spark.conf.set(key, "1")
      check(unionFindOf(df))
    } finally spark.conf.unset(key)
  }

  test("term_counts equals explode + count on empty, whitespace-only, CJK and null-element rows") {
    import spark.implicits._
    val texts = Seq("", "   ", "a b a", "  b\ta  a ", "中文 中文 字 中文", "x", "é e é E")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val tokens = texts.toDF("id", "text").select(col("id"), split(trim(col("text")), "\\s+").as("w"))
    val withNulls = Seq((100L, Seq("a", null, "a", null)), (101L, Seq.empty[String]))
      .toDF("id", "w")
    val df = tokens.union(withNulls)
    val got = df.select(col("id"), explode(expr("term_counts(w)")).as("t"))
      .select(col("id"), col("t.term"), col("t.cnt"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
    val want = df.select(col("id"), explode(col("w")).as("term"))
      .groupBy("id", "term").agg(count(lit(1)))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(got == want)
    assert(got.contains((0L, Some(""), 1L)) && got.contains((2L, Some("a"), 2L)))
    assert(got.contains((4L, Some("中文"), 3L)) && got.contains((100L, None, 2L)))
    // terms come back in binary order within a row
    val order = df.filter(col("id") === 6L).select(expr("term_counts(w).term"))
      .head().getSeq[String](0)
    assert(order == Seq("E", "e", "é"))
  }

  /** One (lang, length-bucket) block of 2600 documents, over the 2000-row
    * salt cap, so d4's pair scan splits it into two salt chunks. Chains
    * of 50 documents link consecutive ids (J = 8/12), which sit in
    * different chunks; docs two apart stay below the threshold
    * (J = 6/14), so each chain is one component only through its
    * cross-chunk edges. */
  private lazy val chainBlockDir: String = {
    val dir = scratch("chain-block")
    import spark.implicits._
    def text(i: Int): String = {
      val (c, k) = (i / 50, i % 50)
      (2 * k until 2 * k + 10).map(j => f"c$c%03d_$j%04d").mkString(" ")
    }
    val df = (0 until 2600).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    GraftWriter.write(df, s"$dir/documents.parquet")
    dir
  }

  test("d20 on a mega-block equals a reference union-find over d4's pairs") {
    val pairs = Pipeline.queries("d4_ngram_jaccard")(spark, chainBlockDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    spark.catalog.clearCache()
    assert(pairs.length == 52 * 49, s"${pairs.length} pairs")
    val want = refLabels(0L until 2600L, pairs)
    val sizes = want.values.groupBy(identity).map { case (r, v) => r -> v.size.toLong }
    val got = Pipeline.queries("d20_dedup_clusters")(spark, chainBlockDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    val expected = (0L until 2600L).map { d =>
      (d, want(d), sizes(want(d)), d == want(d))
    }
    assert(got == expected)
    assert(sizes.size == 52 && sizes.values.forall(_ == 50L))
  }

  test("at sf0.001, d20 runs at most 7 Spark jobs and d22 at most 8") {
    for ((name, most) <- Seq("d20_dedup_clusters" -> 7, "d22_unigram_logprob" -> 8)) {
      val jobs = jobsStarted(Pipeline.queries(name)(spark, sfTiny).collect())
      assert(jobs <= most, s"$name: $jobs jobs")
      spark.catalog.clearCache()
    }
  }
}
