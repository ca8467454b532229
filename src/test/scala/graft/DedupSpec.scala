package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.Pipeline
import graft.sources.GraftWriter

/** SURVEY §2 D specs: planted-duplicate detection for the dedup family
  * (d2 minhash-LSH, d3 simhash, d4 jaccard) and ANN recall vs the exact
  * baseline (d6 vs d5), plus the q26 approx-distinct error bound. */
class DedupSpec extends SparkSpecBase {

  /** Synthetic documents table: 20 distinct docs; ids 100+i are near-dups
    * of doc i (i < 5) with ONE same-length token changed; ids 200+i are
    * EXACT dups of doc i (i < 3). Deterministic content. */
  private lazy val plantedDir: String = {
    val dir = scratch("planted")
    import spark.implicits._
    def text(i: Int): String =
      (0 until 80).map { j =>
        // hash-random tokens: distinct docs share ~0 vocabulary (an
        // arithmetic-progression scheme makes docs genuinely overlap)
        val h = scala.util.hashing.MurmurHash3.stringHash(s"$i:$j")
        f"tok${math.abs(h) % 100000}%05d"
      }.mkString(" ")
    def nearDup(i: Int): String = {
      val w = text(i).split(" "); w(40) = "zzz99999"; w.mkString(" ")
    }
    val rows =
      (0 until 20).map(i => (i.toLong, text(i))) ++
        (0 until 5).map(i => (100L + i, nearDup(i))) ++
        (0 until 3).map(i => (200L + i, text(i)))
    val df = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    GraftWriter.write(df, s"$dir/documents.parquet")
    dir
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("d2: minhash-LSH finds planted near-dups and exact dups") {
    val got = pairs(Pipeline.queries("d2_minhash_lsh")(spark, plantedDir))
    val wantNear = (0 until 5).map(i => (i.toLong, 100L + i)).toSet
    val wantExact = (0 until 3).map(i => (i.toLong, 200L + i)).toSet
    assert((wantNear ++ wantExact).subsetOf(got),
      s"missing: ${(wantNear ++ wantExact) -- got}")
    // no false positives among unrelated distinct docs
    assert(!got.exists { case (a, b) => a < 20 && b < 20 })
  }

  test("d3: simhash chunk banding finds planted dups within hamming 3") {
    val out = Pipeline.queries("d3_simhash")(spark, plantedDir)
    val got = pairs(out)
    val wantExact = (0 until 3).map(i => (i.toLong, 200L + i)).toSet
    assert(wantExact.subsetOf(got), s"missing exact: ${wantExact -- got}")
    val wantNear = (0 until 5).map(i => (i.toLong, 100L + i)).toSet
    assert(wantNear.subsetOf(got), s"missing near: ${wantNear -- got}")
    assert(out.filter(col("hamming") > 3).count() == 0)
  }

  test("d4: blocked jaccard finds planted near-dups with J >= 0.5") {
    val out = Pipeline.queries("d4_ngram_jaccard")(spark, plantedDir)
    val got = pairs(out)
    val wantNear = (0 until 5).map(i => (i.toLong, 100L + i)).toSet
    assert(wantNear.subsetOf(got), s"missing: ${wantNear -- got}")
    val j = out.filter(col("doc_a") === 0 && col("doc_b") === 100)
      .select("jaccard").head().getDouble(0)
    assert(j > 0.9 && j < 1.0) // 79 shared of 81 distinct tokens
  }

  test("d23: signature estimate tracks exact jaccard on planted dups") {
    val out = Pipeline.queries("d23_minhash_estimate")(spark, plantedDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // exact dups: J = 1.0 exactly — every signature component agrees
    (0 until 3).foreach { i =>
      assert(out.get((i.toLong, 200L + i)).contains(1.0),
        s"exact dup ($i, ${200 + i}): ${out.get((i.toLong, 200L + i))}")
    }
    // near-dups: exact J = 79/81 ≈ 0.9753; 128-hash estimate std-err
    // ≈ 0.014, assert within 5 sigma
    (0 until 5).foreach { i =>
      val est = out((i.toLong, 100L + i))
      assert(math.abs(est - 79.0 / 81.0) < 0.07, s"pair ($i, ${100 + i}): est=$est")
    }
    // unrelated distinct docs never reach the 0.7 estimate threshold
    assert(!out.keys.exists { case (a, b) => a < 20 && b < 20 })
  }

  test("d23: broadcast-dim and in-band-join sig paths emit the identical pair set") {
    // round 12: past graft.d23.sigBroadcastCap signatures ride the
    // salted band self-join and score in-join (sigs-per-candidate
    // shuffles crashed the sf10 probe); both placements must produce
    // bit-equal estimates — same pairs, same kernel.
    def run(): Map[(Long, Long), Double] =
      Pipeline.queries("d23_minhash_estimate")(spark, plantedDir)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val small = run() // default cap: broadcast-dim path
    val big = try {
      spark.conf.set("graft.d23.sigBroadcastCap", "0")
      run()
    } finally spark.conf.unset("graft.d23.sigBroadcastCap")
    assert(small.nonEmpty && big == small,
      s"paths diverged: ${big.size} vs ${small.size} pairs")
  }

  /** Single-block corpus: every doc shares (lang, len bucket), so with
    * saltCap = 2000 the 2400 docs force nsalt = 2 — exercising d4's
    * chunk-salted pair scan AND d20's union-find partials and merge. 30 clusters
    * of 80 near-identical docs (18 shared + 2 own tokens, same length):
    * within-cluster J = 18/22 ≈ 0.82, cross-cluster J = 0. */
  private lazy val megaBucketDir: String = {
    val dir = scratch("megabucket")
    import spark.implicits._
    def text(i: Int): String = {
      val c = i % 30
      val base = (0 until 18).map(j => f"clu$c%03d_tok$j%04d")
      val own = (0 until 2).map(j => f"own$i%05d_$j%04d")
      (base ++ own).mkString(" ")
    }
    val df = (0 until 2400).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    GraftWriter.write(df, s"$dir/documents.parquet")
    dir
  }

  test("d4: mega-bucket salting keeps exact results on a single-block corpus") {
    // Each pair must still be met exactly once: the salted output must
    // equal the unsalted brute-force answer.
    val out = Pipeline.queries("d4_ngram_jaccard")(spark, megaBucketDir)
    // same-cluster pairs share 18 of 22 distinct tokens: J = 18/22 ≈ 0.82;
    // cross-cluster pairs share nothing. Expect exactly the within-cluster
    // pair count, each exactly once (salting must not drop or duplicate).
    val rows = out.collect()
    val expected = 30 * (80 * 79 / 2)
    assert(rows.length == expected, s"got ${rows.length}, want $expected")
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == expected)
    assert(rows.forall(_.getDouble(2) > 0.8))
  }

  /** Adversarial mega-block (VERDICT r5 #4): ONE block of 4200 docs
    * forces nsalt = 3, and the planted duplicate pairs are chosen so
    * their doc_ids land in DIFFERENT salt chunks — (0,1), (1,2), (0,2)
    * — plus a same-chunk control. The 2400-doc spec above never
    * exercised this: its cluster members are 30 apart, so every
    * qualifying pair shared a chunk at nsalt = 2. A salting scheme that
    * met pairs per-chunk-pair-intersection (the classic both-sides-salt
    * mistake) would drop exactly the cross-chunk pairs this plants.
    */
  private lazy val crossChunkDir: String = {
    val dir = scratch("crosschunk")
    import spark.implicits._
    val dupPairs = Seq((3000L, 3001L), (3004L, 3005L), (3006L, 3008L),
      (3009L, 3012L)) // salts mod 3: (0,1), (1,2), (0,2), (0,0)
    val dupOf = dupPairs.flatMap { case (a, b) => Seq(b -> a) }.toMap
    def text(i: Long): String = {
      val seed = dupOf.getOrElse(i, i)
      (0 until 20).map(j => f"tok${seed}%06d_$j%02d").mkString(" ")
    }
    val df = (0L until 4200L).map(i => (i, text(i))).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    GraftWriter.write(df, s"$dir/documents.parquet")
    dir
  }

  test("d4: cross-chunk duplicate pairs survive the salted scan exactly once") {
    val rows = Pipeline.queries("d4_ngram_jaccard")(spark, crossChunkDir).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = Seq((3000L, 3001L), (3004L, 3005L), (3006L, 3008L), (3009L, 3012L))
    assert(got.sorted == expected, s"got ${got.toList}")
    assert(got.distinct.length == got.length, "a pair was met more than once")
    assert(rows.forall(_.getDouble(2) == 1.0), rows.mkString(";"))
    // the scan decomposition is real: the pair join is an equi-join
    // keyed on the salt (bounded per-task work), never a single
    // quadratic block task or a cartesian fallback
    val p = Pipeline.queries("d4_ngram_jaccard")(spark, crossChunkDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("salt"), s"salt key missing from the pair join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d20: cross-chunk components merge exactly under the adversarial block") {
    val out = Pipeline.queries("d20_dedup_clusters")(spark, crossChunkDir).collect()
    assert(out.length == 4200)
    val roots = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(3001L -> 3000L, 3005L -> 3004L, 3008L -> 3006L, 3012L -> 3009L)
    expected.foreach { case (doc, root) =>
      assert(roots(doc) == root, s"doc $doc root ${roots(doc)}")
    }
    // everything unplanted is its own singleton component
    out.foreach { r =>
      val (doc, root, size) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (expected.contains(doc) || expected.values.exists(_ == doc))
        assert(size == 2, s"doc $doc size $size")
      else assert(root == doc && size == 1, s"doc $doc root $root size $size")
    }
  }

  test("d20: two-level union-find clusters a single-block corpus exactly") {
    // The mega-block's edge mass (30 × C(80,2) edges in ONE block) is
    // split across salted join tasks, whose union_find partials the
    // final per-block merge must combine to recover the exact 30
    // components: root = min doc_id of the cluster (= the cluster
    // index, docs 0..29), size 80, keep only the root.
    val out = Pipeline.queries("d20_dedup_clusters")(spark, megaBucketDir).collect()
    assert(out.length == 2400)
    out.foreach { r =>
      val (doc, root, size, keep) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
      assert(root == doc % 30, s"doc $doc: root $root")
      assert(size == 80, s"doc $doc: size $size")
      assert(keep == (doc < 30), s"doc $doc: keep $keep")
    }
  }

  /** Two docs in one (lang, n_chars/100) block whose Jaccard sits just
    * under the 0.5 threshold yet rounds to it: A holds 10,000 distinct
    * words, each twice; B holds those words plus 10,001 more.
    * J = 10000/20001 = 0.499975, round(J, 4) = 0.5. Word lengths are
    * chosen so both texts measure 1399xx chars. */
  private lazy val roundingEdgeDir: String = {
    val dir = scratch("rounding-edge")
    import spark.implicits._
    val shared = (0 until 10000).map(i => f"w$i%05d")
    val extra = (0 until 9990).map(i => f"x$i%05d") ++ (0 until 11).map(i => f"y$i%04d")
    val df = Seq((1L, (shared ++ shared).mkString(" ")), (2L, (shared ++ extra).mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    GraftWriter.write(df, s"$dir/documents.parquet")
    dir
  }

  test("d4/d20: a pair whose jaccard rounds up to the 0.5 threshold is kept and clustered") {
    val docs = Tables.load(spark, roundingEdgeDir, "documents")
      .select(col("doc_id"), col("lang"), floor(col("n_chars") / 100).as("blk"),
        split(col("text"), " ").as("w"))
    assert(docs.select("lang", "blk").distinct().count() == 1, "the plant spans two blocks")
    val brute = docs.as("a").join(docs.as("b"), col("a.lang") === col("b.lang") &&
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        round(expr("jaccard_sim(a.w, b.w)"), 4).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(brute == Seq((1L, 2L, 0.5)), s"brute force: $brute")
    val d4 = Pipeline.queries("d4_ngram_jaccard")(spark, roundingEdgeDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(d4 == brute, s"d4: $d4")
    val d20 = Pipeline.queries("d20_dedup_clusters")(spark, roundingEdgeDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(d20 == Seq((1L, 1L, 2L, true), (2L, 1L, 2L, false)), s"d20: $d20")
  }

  test("d140: the mega-block corpus waterfall equals a brute-force greedy drop") {
    import spark.implicits._
    val docs = Tables.load(spark, megaBucketDir, "documents")
      .select("doc_id", "source", "lang", "n_chars", "text")
      .as[(Long, String, String, Long, String)].collect().toSeq
    // rung 1: d132's synthetic URL, canonicalized; keep max rev, then max id
    def canon(u: String): String = {
      val c = u.trim.toLowerCase.replaceFirst("^(https?://)?(www\\.)?", "")
        .replaceFirst("/+$", "")
      c.split("\\?", -1) match {
        case Array(path) => path
        case Array(path, qs) if qs.isEmpty => path
        case Array(path, qs) => path + "?" + qs.split("&").sorted.mkString("&")
      }
    }
    def url(id: Long, source: String): String = {
      val u0 = s"$source/page${id % 50}"
      (id % 4).toInt match {
        case 0 => s"https://www.$u0"
        case 1 => s"http://$u0/"
        case 2 => s"$u0?b=2&a=1"
        case _ => u0
      }
    }
    val s1 = docs.groupBy(d => canon(url(d._1, d._2))).values
      .map(_.maxBy(d => (d._1 % 3, d._1))).toSeq
    // rung 2: one doc per text, the smallest id
    val s2 = s1.groupBy(_._5).values.map(_.minBy(_._1)).toSeq
    // rung 3: drop the larger id of every same-block pair with
    // round(J, 4) >= 0.8
    def wset(t: String): Set[String] = t.trim.split("\\s+").toSet
    val drops = (for {
      a <- s2; b <- s2
      if a._1 < b._1 && a._3 == b._3 && a._4 / 100 == b._4 / 100
      inter = (wset(a._5) & wset(b._5)).size
      j = BigDecimal(inter) / BigDecimal((wset(a._5) | wset(b._5)).size)
      if j.setScale(4, BigDecimal.RoundingMode.HALF_UP) >= BigDecimal("0.8")
    } yield b._1).toSet
    val s3 = s2.filterNot(d => drops(d._1))
    assert(s1.size < docs.size && drops.nonEmpty, "the corpus exercises rungs 1 and 3")
    val out = Pipeline.queries("d140_dedup_waterfall")(spark, megaBucketDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(out == Seq(("spec", docs.size.toLong, s1.size.toLong, s2.size.toLong,
      s3.size.toLong, s3.size * 1000L / docs.size)), s"d140: $out")
  }

  test("d20: a corpus dir rewritten between entries is read afresh") {
    // Run as Verify runs entries: through runEntry, whose cleanup
    // empties the helper registry, so the d20 labeling built over the
    // first corpus is not served for the second.
    import spark.implicits._
    def corpus(tag: String, n: Int, nDup: Int): DataFrame = {
      def text(i: Int): String = (0 until 60).map { j =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s"$tag:$i:$j")
        f"tok${math.abs(h) % 100000}%05d"
      }.mkString(" ")
      ((0 until n).map(i => (i.toLong, text(i))) ++
        (0 until nDup).map(i => (1000L + i, text(i))))
        .toDF("doc_id", "text")
        .withColumn("lang", lit("en"))
        .withColumn("source", lit("spec"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    def d20(dir: String): Seq[(Long, Long, Long, Boolean)] = {
      var out = Seq.empty[(Long, Long, Long, Boolean)]
      val outcome = GraftSession.runEntry(spark, "d20_dedup_clusters", 120) {
        out = Pipeline.queries("d20_dedup_clusters")(spark, dir).collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      }
      assert(outcome.isInstanceOf[GraftSession.Outcome.Done], s"d20 on $dir: $outcome")
      out
    }
    val rewritten = scratch("d20-rewritten")
    GraftWriter.write(corpus("a", 20, 3), s"$rewritten/documents.parquet")
    assert(d20(rewritten).length == 23)
    GraftWriter.write(corpus("b", 12, 5), s"$rewritten/documents.parquet")
    val fresh = scratch("d20-fresh")
    GraftWriter.write(corpus("b", 12, 5), s"$fresh/documents.parquet")
    val want = d20(fresh)
    assert(want.length == 17 && want.count(!_._4) == 5, s"$want")
    assert(d20(rewritten) == want)
  }

  test("d28: heavy-hitters sketch + rerank is exact on a 1000-word corpus with evictions") {
    // 1000 distinct words >> k = 64 counters, so the sketch evicts
    // constantly in update() AND merges partial summaries across
    // partitions; 20 planted heavy words (200 occurrences each) clear
    // the survival bound n/k = 8900/64 ≈ 139, the 980 light words (5
    // each) stay far below — the exact top-20 must come back exactly.
    val dir = scratch("heavyhitters")
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val heavy = (0 until 20).map(i => f"heavy$i%02d")
    val light = (0 until 980).map(i => f"light$i%03d")
    val stream = rnd.shuffle(
      heavy.flatMap(w => Seq.fill(200)(w)) ++ light.flatMap(w => Seq.fill(5)(w)))
    val docs = stream.grouped(89).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }.toSeq
    val df = docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    GraftWriter.write(df.repartition(8), s"$dir/documents.parquet")
    val got = Pipeline.queries("d28_heavy_hitters")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // all 20 heavies tie at 200 → output ordered by word ascending
    assert(got == heavy.sorted.map(w => (w, 200L)), s"got $got")
  }

  test("d96: count-min matches an independent reference; error stays one-sided") {
    // 600 distinct words >> 256 cells per row, so collisions are
    // certain (birthday bound) — the reference recomputes every cell
    // and probe from scratch, and the planted skew makes at least one
    // top token's estimate exceed its exact count via a collision
    val dir = scratch("d96-plant")
    import spark.implicits._
    val rnd = new scala.util.Random(96)
    val heavy = (0 until 25).map(i => f"hv$i%02d")
    val light = (0 until 575).map(i => f"lt$i%03d")
    val stream = rnd.shuffle(
      heavy.flatMap(w => Seq.fill(40)(w)) ++ light.flatMap(w => Seq.fill(3)(w)))
    val docs = stream.grouped(77).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }.toSeq
    GraftWriter.write(
      docs.map { case (id, t) => (id, t, "en", "spec", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars").repartition(8),
      s"$dir/documents.parquet")
    def cell(r: Int, tok: String): Int = Integer.parseInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-cm:$r:$tok".getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString, 16)
    val exact = (heavy.map(_ -> 40L) ++ light.map(_ -> 3L)).toMap
    val cells = Array.fill(4, 256)(0L)
    for ((tok, n) <- exact; r <- 0 until 4) cells(r)(cell(r, tok)) += n
    val wantTop = exact.toSeq.sortBy { case (t, n) => (-n, t) }.take(20)
    val want = wantTop.zipWithIndex.map { case ((tok, n), i) =>
      val est = (0 until 4).map(r => cells(r)(cell(r, tok))).min
      (i + 1, tok, n, est, est - n)
    }
    val got = Pipeline.queries("d96_countmin")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got === want, s"sketch diverges from reference:\ngot  $got\nwant $want")
    assert(got.forall(_._5 >= 0), "CMS error must be one-sided (est >= exact)")
    // 2400 heavy + 1725 light tokens over 256 cells: collisions land
    // on at least one probed minimum
    assert(got.exists(_._5 > 0), "planted collision mass never surfaced")
  }

  test("d1: exact dedup groups exact copies only") {
    val out = Pipeline.queries("d1_exact_dedup")(spark, plantedDir)
    assert(out.count() == 25) // 28 docs, 3 exact dup pairs collapse
    assert(out.filter(col("n_copies") === 2).count() == 3)
  }

  test("d6: LSH ANN recall >= 0.8 vs exact d5 baseline (sf0.01)") {
    def resultPairs(name: String) =
      Pipeline.queries(name)(spark, sfSmall).select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultPairs("d5_knn_cosine")
    val ann = resultPairs("d6_lsh_ann")
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("d29: IVF ANN recall >= 0.8 vs exact d5 on planted clustered vectors") {
    // 20 well-separated clusters of 25 vectors (center + small noise):
    // a query's true neighbors share its cluster, the cluster maps to
    // one coarse cell, and nProbe = 4 probes comfortably cover it. The
    // driver's near-uniform corpus can't show this (cell pruning on
    // structureless data is the documented IVF trade) — clustered data
    // is exactly the case IVF exists for.
    val dir = scratch("ivf")
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def center(): Array[Float] = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val centers = Seq.fill(20)(center())
    // vec_ids 0..9 land in 10 DIFFERENT clusters (they are d29's fixed
    // query set); remaining members follow
    val rows = (0 until 500).map { i =>
      val c = centers(i % 20)
      val v = c.map(x => x + (rnd.nextFloat() * 2f - 1f) * 0.05f)
      (i.toLong, v, i % 20)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    def resultPairs(name: String) =
      Pipeline.queries(name)(spark, dir).select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultPairs("d5_knn_cosine")
    val ivf = resultPairs("d29_ivf_ann")
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("d45: PQ ADC top-5 stays within the query's own cluster") {
    val dir = scratch("planted-pq")
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def center(): Array[Float] = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val centers = Seq.fill(20)(center())
    // same clustered shape as d29's corpus: tight 0.05 jitter around 20
    // well-separated centers, queries 0..9 in 10 different clusters.
    // Same-cluster members quantize to the same PQ code (jitter is
    // small against cell diameters), so their ADC distance to the
    // query is minimal — the top-5 must stay in the query's cluster.
    val rows = (0 until 500).map { i =>
      val c = centers(i % 20)
      val v = c.map(x => x + (rnd.nextFloat() * 2f - 1f) * 0.05f)
      (i.toLong, v, i % 20)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = Pipeline.queries("d45_pq_adc")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 50, s"expected 10 queries x top-5, got ${got.length}")
    val sameCluster = got.count { case (q, n) => q % 20 == n % 20 }
    assert(sameCluster.toDouble / got.length >= 0.8,
      s"same-cluster fraction ${sameCluster}/${got.length}")
  }

  test("d47: bloom screening flags every true duplicate, bounds false positives") {
    val dir = scratch("bloom-dedup")
    import spark.implicits._
    // doc_ids 0..499; the new batch is doc_id % 5 == 0 (100 docs).
    // Every new doc with doc_id % 10 == 0 (50 docs) carries a text that
    // ALSO exists in the existing corpus (doc_id+1 holds the same
    // text); the other 50 new docs are globally unique.
    val docs = (0 until 500).map { i =>
      val text =
        if (i % 10 == 1) s"shared text ${i - 1}" // existing copy of new doc i-1
        else if (i % 10 == 0) s"shared text $i"  // new doc with a known dup
        else s"unique text $i"
      (i.toLong, text, "en")
    }
    val df = docs.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    GraftWriter.write(df, s"$dir/documents.parquet")
    // gate entry: exact membership + the per-row no-false-negative
    // contract (what the DuckDB oracle hash-checks)
    val out = Pipeline.queries("d47_bloom_dedup")(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(out.size == 100)
    (0 until 500 by 10).foreach { i =>
      assert(out(i.toLong)._1, s"true duplicate $i not marked truly_dup")
    }
    out.foreach { case (id, (_, ok)) =>
      assert(ok, s"false negative surfaced at doc $id")
    }
    // bounded false positives on the RAW sketch verdicts (d47Screen —
    // the verdict column is sketch-hash-dependent, so it lives outside
    // the hash-checked output): novel docs flagged dup (the sketch is
    // sized for 100k items at default fpp — 400 inserts leave it
    // nearly empty, so false positives should be rare)
    val raw = Pipeline.d47Screen(spark, dir).collect()
      .map(r => (r.getLong(1), r.getBoolean(3))).toMap
    (0 until 500 by 10).foreach { i =>
      assert(raw(i.toLong), s"true duplicate $i not flagged by the sketch")
    }
    val novel = (0 until 500 by 5).filter(_ % 10 != 0)
    val fp = novel.count(i => raw(i.toLong))
    assert(fp.toDouble / novel.size <= 0.05, s"$fp/${novel.size} false positives")
  }

  test("d15: minhash-candidate jaccard finds planted dups without blocking keys") {
    val d15 = pairs(Pipeline.queries("d15_jaccard_lsh")(spark, plantedDir))
    // planted near/exact dups all have J >= 0.9 — band recall there is ~1
    val want = (0 until 5).map(i => (i.toLong, 100L + i)).toSet ++
      (0 until 3).map(i => (i.toLong, 200L + i)).toSet
    assert(want.subsetOf(d15), s"missing: ${want -- d15}")
    // and nothing below the J=0.8 operating threshold sneaks in
    assert(Pipeline.queries("d15_jaccard_lsh")(spark, plantedDir)
      .filter(org.apache.spark.sql.functions.col("jaccard") < 0.8).count() == 0)
  }

  test("d13: embedding near-dup finds planted high-cosine pairs") {
    val dir = scratch("planted-emb")
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 20).map(i => (i.toLong, vec()))
    // ids 100+i: tiny perturbation of vector i — cosine > 0.99
    val dups = (0 until 5).map { i =>
      (100L + i, base(i)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
    GraftWriter.write(df, s"$dir/embeddings.parquet")
    val got = Pipeline.queries("d13_embed_neardup")(spark, dir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0 until 5).map(i => (i.toLong, 100L + i)).toSet
    assert(want.subsetOf(got), s"missing: ${want -- got}")
    // random 64-dim gaussians don't reach cos 0.4 — no false positives
    assert(!got.exists { case (x, y) => x < 20 && y < 20 })
  }

  test("d13/adaptiveBits: wide signatures (bits > 12) keep recall on a 5k corpus at occupancy 1") {
    // r7: the oracle prefix table is rendered at stride 16, lifting the
    // old 12-bit replay cap; exercise the >12-bit regime by shrinking
    // the occupancy target so a 5k corpus selects bits = 13
    assert(Pipeline.adaptiveBits(5005, 1) == 13)
    assert(Pipeline.adaptiveBits(Long.MaxValue) == 16) // cap
    assert(Pipeline.adaptiveBits(500) == 6)            // floor
    val dir = scratch("planted-emb-wide")
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 5000).map(i => (i.toLong, vec()))
    val dups = (0 until 5).map { i =>
      (10000L + i, base(i)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
    GraftWriter.write(df, s"$dir/embeddings.parquet")
    val got = try {
      spark.conf.set("graft.lsh.occupancy", "1")
      Pipeline.queries("d13_embed_neardup")(spark, dir)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally spark.conf.unset("graft.lsh.occupancy")
    // 48 tables × 13 bits at cos > 0.99: per-bit p ≈ 0.955, table hit
    // p^13 ≈ 0.55, miss probability (1-p^13)^48 ≈ 1e-17 — all planted
    // pairs must surface
    val want = (0 until 5).map(i => (i.toLong, 10000L + i)).toSet
    assert(want.subsetOf(got), s"missing: ${want -- got}")
  }

  test("lshScoredPairs: a planted mega-bucket chunk-salts — bounded tasks, results unchanged") {
    // VERDICT r11 #2: mass-duplicate vectors (a bad upstream join)
    // concentrate one LSH bucket far past the adaptiveBits occupancy
    // target; the d4Pairs chunk-salting must split that bucket's pair
    // scan across nsalt tasks while still meeting every pair EXACTLY
    // once. 220 identical vectors + 30 randoms, saltCap = 50 → the
    // identical clique's buckets carry nsalt = 5 in all 48 tables.
    val dir = scratch("planted-megabucket-emb")
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dup = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows = (0 until 220).map(i => (i.toLong, dup)) ++
      (0 until 30).map(i => (1000L + i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    GraftWriter.write(rows.toDF("vec_id", "embedding").withColumn("label", lit(0)),
      s"$dir/embeddings.parquet")
    def run(): Array[(Long, Long, Double)] =
      Pipeline.queries("d13_embed_neardup")(spark, dir)
        .select("id_a", "id_b", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
    val plain = run() // default saltCap 2000: nsalt = 1 everywhere
    val salted = try {
      spark.conf.set("graft.lsh.saltCap", "50")
      val p = Pipeline.queries("d13_embed_neardup")(spark, dir)
        .queryExecution.executedPlan.toString
      assert("\\bsalt#\\d+".r.findFirstIn(p).isDefined,
        s"salt column missing from the salted plan:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
      run()
    } finally spark.conf.unset("graft.lsh.saltCap")
    assert(salted.sameElements(plain),
      s"salting changed the pair set: ${salted.length} vs ${plain.length} rows")
    // same planted mega-bucket through the EMIT-ONCE in-join path
    // (round 14): chunk-salting splits a pair's collisions across
    // (bkt, salt) partitions, and first_shared_lane16 must still emit
    // each pair exactly once — a 220-clique colliding in all 48 tables
    // is the worst case for both.
    val inJoinSalted = try {
      spark.conf.set("graft.lsh.saltCap", "50")
      spark.conf.set("graft.lsh.vecBroadcastCap", "0")
      run()
    } finally {
      spark.conf.unset("graft.lsh.saltCap")
      spark.conf.unset("graft.lsh.vecBroadcastCap")
    }
    assert(inJoinSalted.sameElements(plain),
      s"emit-once in-join + salting changed the pair set: " +
        s"${inJoinSalted.length} vs ${plain.length} rows")
    // the identical clique must surface completely: C(220,2) pairs at 1.0
    val clique = plain.filter { case (a, b, _) => a < 220 && b < 220 }
    assert(clique.length == 220 * 219 / 2, s"clique pairs: ${clique.length}")
    assert(clique.forall(_._3 == 1.0))
  }

  test("lshScoredPairs: hybrid kernel placement — broadcast-dim and in-join paths agree") {
    // VERDICT r11 #7: below graft.lsh.vecBroadcastCap the self-join
    // moves ids only and the kernel reads both vectors from ONE
    // broadcast dim (map-side — the r11 candidate-mass vector SHUFFLE
    // cannot reopen, and each unique pair is scored once); past the
    // cap vectors ride the banded join (the sf10-certified shape).
    // Both paths must emit the identical pair set and scores.
    val dir = scratch("hybrid-kernel-emb")
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows = (0 until 40).map { i => // 40 jittered near-dups + 160 randoms
      (i.toLong, base.map(x => x + rnd.nextGaussian().toFloat * 0.01f))
    } ++ (0 until 160).map(i =>
      (1000L + i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    GraftWriter.write(rows.toDF("vec_id", "embedding").withColumn("label", lit(0)),
      s"$dir/embeddings.parquet")
    def run(): Array[(Long, Long, Double)] =
      Pipeline.queries("d13_embed_neardup")(spark, dir)
        .select("id_a", "id_b", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
    // default cap 10k ≫ 200 rows: broadcast-dim path, pinned in-plan
    // (see also the capacity pre-gate test below, which pins the
    // escalated signature width in-plan the same way)
    val pSmall = Pipeline.queries("d13_embed_neardup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[id_a".r.findFirstIn(pSmall).isDefined &&
      "BroadcastHashJoin \\[id_b".r.findFirstIn(pSmall).isDefined,
      s"broadcast-dim path must join both vectors map-side:\n$pSmall")
    val small = run()
    val big = try {
      spark.conf.set("graft.lsh.vecBroadcastCap", "0")
      val pBig = Pipeline.queries("d13_embed_neardup")(spark, dir)
        .queryExecution.executedPlan.toString
      assert("BroadcastHashJoin \\[id_a".r.findFirstIn(pBig).isEmpty,
        s"past the cap the kernel must run inside the banded join:\n$pBig")
      assert(!pBig.contains("CartesianProduct"), pBig)
      // emit-once pin (round 14): the post-score dedup exchange —
      // HashAggregate(keys=[id_a, id_b]) whose map-side partials
      // structurally cannot combine — must be GONE; the join itself
      // carries the first_shared_lane16 conjunct instead
      assert(pBig.contains("first_shared_lane16"),
        s"in-join path must emit-once via first_shared_lane16:\n$pBig")
      assert("HashAggregate\\(keys=\\[id_a".r.findFirstIn(pBig).isEmpty &&
        "SortAggregate\\(key=\\[id_a".r.findFirstIn(pBig).isEmpty,
        s"post-score pair dedup exchange must be deleted by emit-once:\n$pBig")
      run()
    } finally spark.conf.unset("graft.lsh.vecBroadcastCap")
    assert(small.nonEmpty && big.sameElements(small),
      s"hybrid paths diverged: ${big.length} vs ${small.length} rows")
  }

  test("d54: topk_by aggregate and row_number Window plans emit identical graphs") {
    // knnTop5's topk_by aggregate must be bit-equal to a row_number
    // Window over (cos_sim desc, nid asc) — rows, ranks and tie order —
    // on a corpus with real ties (an identical-vector clique scores 1.0
    // against every member). The reference Window is computed here,
    // over the same all-pairs edge stream, spread over 4 partitions so
    // the aggregate's partial buffers merge.
    val dir = scratch("topk-agg-emb")
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(53)
    val dup = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows = (0 until 12).map(i => (i.toLong, dup)) ++
      (0 until 120).map(i => (1000L + i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    GraftWriter.write(rows.toDF("vec_id", "embedding").withColumn("label", lit(0)),
      s"$dir/embeddings.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val bi = emb.as("a").join(emb.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nid"),
        round(expr("cosine_sim(a.vec, b.vec)"), 4).as("cos_sim"))
      .repartition(4)
    def collectEdges(df: DataFrame): Array[(Long, Long, Double, Int)] =
      df.select("vec_id", "nid", "cos_sim", "rn").orderBy("vec_id", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val viaAgg = collectEdges(Pipeline.knnTop5(bi))
    val wk = Window.partitionBy("vec_id").orderBy(col("cos_sim").desc, col("nid"))
    val viaWindow = collectEdges(
      bi.withColumn("rn", row_number().over(wk)).filter(col("rn") <= 5))
    assert(viaAgg.length == 132 * 5 && viaAgg.sameElements(viaWindow),
      s"topk_by diverged from the Window: ${viaAgg.length} vs ${viaWindow.length} rows")
    // the entry itself: identical vectors always share LSH buckets, so
    // each clique member's top-5 is the 5 smallest other clique ids at 1.0
    val d54 = collectEdges(Pipeline.queries("d54_knn_graph")(spark, dir))
    (0L until 12L).foreach { v =>
      val want = (0L until 12L).filter(_ != v).take(5).zipWithIndex
        .map { case (n, j) => (v, n, 1.0, j + 1) }
      assert(d54.filter(_._1 == v).toSeq == want, s"clique node $v: ${d54.filter(_._1 == v).toSeq}")
    }
  }

  test("registry: nested helper builds run (d99 as the FIRST family query on a fresh corpus)") {
    // r12 sf10 probe regression: lshKnnEdges builds inside the session
    // registry by calling lshScoredPairs — itself registry-cached — and
    // a nested ConcurrentHashMap.computeIfAbsent threw "Recursive
    // update" whenever d97/d99 ran before any other lshScoredPairs
    // consumer had seeded the inner entry. This corpus dir is FRESH, so
    // the nested build is exercised unseeded.
    val dir = scratch("nested-helper-emb")
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 60).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat), i % 5))
    GraftWriter.write(rows.toDF("vec_id", "embedding", "label"),
      s"$dir/embeddings.parquet")
    val out = Pipeline.queries("d99_pagerank")(spark, dir)
    assert(out.count() == 60)
  }

  test("capacity pre-gate: over-budget corpus re-buckets wider, results unchanged") {
    // VERDICT r12 #3: d146's pair-mass prediction wired in as an
    // automatic pre-gate — when the predicted Σ c(c−1)/2 at the base
    // signature width crosses graft.lsh.pairBudget, the engine
    // escalates the width BEFORE the quadratic pair join runs. Corpus:
    // 3 cliques × 12 IDENTICAL vectors — identical vectors share every
    // hyperplane sign, so (a) the cliques collide at ANY width (the
    // escalated run must find the same pairs) and (b) the pair mass is
    // ≥ 48·3·C(12,2) = 9 504 at every width, so a budget of 10 drives
    // the gate to its 16-bit cap deterministically.
    val dir = scratch("pairbudget-emb")
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val centers = Array.fill(3)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = (0 until 36).map(i => (i.toLong, centers(i % 3)))
    GraftWriter.write(rows.toDF("vec_id", "embedding").withColumn("label", lit(0)),
      s"$dir/embeddings.parquet")
    def run(): (String, Array[(Long, Long, Double)]) = {
      val df = Pipeline.queries("d13_embed_neardup")(spark, dir)
      (df.queryExecution.executedPlan.toString,
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sortBy(t => (t._1, t._2)))
    }
    val (pDef, resDef) = run()
    assert("hyperplane_buckets\\([^,]+, 48, 6\\)".r.findFirstIn(pDef).isDefined,
      s"base width must be the occupancy formula's 6 for 36 vectors:\n$pDef")
    // 3 cliques of 12 → C(12,2)·3 = 198 within-clique pairs at cos 1.0
    assert(resDef.length == 198 && resDef.forall(_._3 == 1.0), s"${resDef.length}")
    val (pGated, resGated) = try {
      spark.conf.set("graft.lsh.pairBudget", "10")
      run()
    } finally spark.conf.unset("graft.lsh.pairBudget")
    assert("hyperplane_buckets\\([^,]+, 48, 16\\)".r.findFirstIn(pGated).isDefined,
      s"over-budget corpus must escalate to the 16-bit cap:\n$pGated")
    assert(resGated.sameElements(resDef),
      s"pre-gate changed results: ${resGated.length} vs ${resDef.length} rows")
  }

  test("d36: semdedup drops the higher id of planted near-dup pairs") {
    val dir = scratch("planted-semdedup")
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 128-dim: random-pair cosine std ~ 1/sqrt(128), so tau=0.4 sits
    // beyond 4.5 sigma and the no-false-positive assertion is stable
    def vec(): Array[Float] = Array.fill(128)(rnd.nextGaussian().toFloat)
    val base = (0 until 20).map(i => (i.toLong, vec()))
    // ids 100+i: tiny perturbation of vector i (cosine > 0.99) — lands
    // in the same cell (centroid i for i < 8 is vector i itself) and
    // must be the dropped side of the pair
    val dups = (0 until 5).map { i =>
      (100L + i, base(i)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
    GraftWriter.write(df, s"$dir/embeddings.parquet")
    val rows = Pipeline.queries("d36_semdedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows.size == 25)
    (0 until 5).foreach { i =>
      val (nClose, kept) = rows(100L + i)
      assert(kept == 0L && nClose >= 1L, s"dup ${100 + i}: kept=$kept n_close=$nClose")
      assert(rows(i.toLong)._2 == 1L, s"original $i must be kept")
    }
    // random gaussians stay far under tau=0.4: nothing else is dropped
    assert(rows.count(_._2._2 == 1L) == 20)
  }

  test("d39: containment finds planted snippets, ignores near-misses") {
    val dir = scratch("planted-containment")
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
      (2L, "beta delta zeta", "en"),                  // snippet of 1
      (3L, "beta delta OMEGA", "en"),                 // near-miss: OMEGA not in 1
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu", "en"),
      (5L, "beta delta zeta", "de"))                  // wrong lang: never a candidate
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    GraftWriter.write(docs, s"$dir/documents.parquet")
    val got = Pipeline.queries("d39_containment")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // 2 ⊆ 1 and 2 ⊆ 4 (two containers, min id 1); 1 ⊆ 4 but 1 is not a
    // snippet (10 distinct words <= 12, so it IS eligible) — check both
    assert(got(2L) == (2L, 1L), s"snippet 2: ${got.get(2L)}")
    assert(got(1L) == (1L, 4L), s"doc 1 inside 4: ${got.get(1L)}")
    assert(!got.contains(3L), "near-miss must not match")
    assert(!got.contains(5L), "cross-lang must not match")
  }

  test("q45: approx_percentile within the GK rank-error bound of exact") {
    import org.apache.spark.sql.functions._
    // GK with accuracy = 1000 guarantees rank error <= n/1000; assert
    // each approximate quantile lies between the exact quantiles at
    // p +/- 2/accuracy (2x margin on the guarantee). The entry itself
    // now hash-checks the tie-safe rank-count form against the oracle
    // (VERDICT r5 #6); this spec keeps the independent value-band proof
    // on directly-computed approximations, plus the entry's booleans.
    val eps = 2.0 / 1000.0
    val li = Tables.load(spark, sfSmall, "lineitem")
    val out = li.groupBy(col("l_linestatus")).agg(
        expr("approx_percentile(l_extendedprice, 0.25, 1000)").as("p25"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("p50"),
        expr("approx_percentile(l_extendedprice, 0.75, 1000)").as("p75"))
      .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    Seq(0.25, 0.5, 0.75).zipWithIndex.foreach { case (p, i) =>
      val bounds = li.groupBy(col("l_linestatus")).agg(
        expr(s"percentile(l_extendedprice, ${p - eps})").as("lo"),
        expr(s"percentile(l_extendedprice, ${p + eps})").as("hi"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      bounds.foreach { case (grp, (lo, hi)) =>
        val a = out(grp)(i)
        assert(a >= lo && a <= hi, s"group $grp p$p: approx $a outside [$lo, $hi]")
      }
    }
    val entry = graft.SparkEntry.queries("q45_approx_percentile")(spark, sfSmall)
      .collect()
    assert(entry.nonEmpty &&
      entry.forall(r => r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4)),
      entry.mkString(";"))
  }

  test("q26: approx_count_distinct within 10% of exact") {
    import org.apache.spark.sql.functions._
    val r = Tables.load(spark, sfSmall, "orders")
      .agg(approx_count_distinct(col("o_custkey")),
        countDistinct(col("o_custkey"))).head()
    val approx = r.getLong(0); val exact = r.getLong(1)
    assert(math.abs(approx - exact).toDouble / exact < 0.10,
      s"approx $approx vs exact $exact")
    // the hash-gated entry (VERDICT r5 #6) must agree
    val e = graft.queries.Relational.queries("q26_approx_distinct")(spark, sfSmall).head()
    assert(e.getLong(0) == exact && e.getBoolean(1), e.toString)
  }

  test("d31: chunk dedup removes only cross-doc duplicated 10-token spans") {
    import spark.implicits._
    val dir = scratch("d31_planted")
    def toks(prefix: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$prefix$i")
    val shared = toks("a", 10) // the planted cross-doc chunk
    val rows = Seq(
      // doc 1: shared chunk + own chunk + 5-token remainder
      (1L, (shared ++ toks("x", 10) ++ toks("r", 5)).mkString(" ")),
      // doc 2: shared chunk + two own chunks
      (2L, (shared ++ toks("y", 20)).mkString(" ")),
      // doc 3: fully unique, 2 chunks
      (3L, toks("z", 20).mkString(" ")),
      // doc 4: shorter than one chunk — nothing removable
      (4L, toks("w", 9).mkString(" ")),
      // doc 5: the SAME chunk twice, but only within this one doc —
      // count(DISTINCT doc_id) = 1, so it must NOT count as duplicated
      (5L, (toks("c", 10) ++ toks("c", 10)).mkString(" ")))
    val df = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    GraftWriter.write(df, s"$dir/documents.parquet")
    val got = Pipeline.queries("d31_chunk_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == ((25L, 2L, 1L, 15L)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((30L, 3L, 1L, 20L)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((20L, 2L, 0L, 20L)), s"doc3: ${got(3L)}")
    assert(got(4L) == ((9L, 0L, 0L, 9L)), s"doc4: ${got(4L)}")
    assert(got(5L) == ((20L, 2L, 0L, 20L)), s"doc5 (intra-doc repeat): ${got(5L)}")
  }

  test("d32: incremental dedup screens the batch against the existing corpus") {
    import spark.implicits._
    val dir = scratch("d32_planted")
    def toks(prefix: String, from: Int, n: Int): Seq[String] =
      (from until from + n).map(i => s"$prefix$i")
    val ex2Text = toks("x", 1, 30).mkString(" ") // existing doc 2's text
    val ex3Text = toks("s", 1, 10).mkString(" ") // existing short doc
    val rows = Seq(
      // existing corpus: doc_id % 5 != 0
      (1L, toks("e", 1, 40).mkString(" ")),
      (2L, ex2Text),
      (3L, ex3Text),
      // batch: doc_id % 5 == 0
      (5L, ex2Text), // exact copy -> exact_dup, rejected
      // one full 20-token window of doc 1 (e11..e30) inside new text
      (10L, (toks("o", 1, 10) ++ toks("e", 11, 20)).mkString(" ")),
      (15L, toks("u", 1, 25).mkString(" ")), // unique -> admitted
      (20L, ex3Text), // short exact copy: whole-text window + exact hash
      (25L, toks("v", 1, 9).mkString(" "))) // short unique -> admitted
    val df = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    GraftWriter.write(df, s"$dir/documents.parquet")
    val got = Pipeline.queries("d32_incremental_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == Set(5L, 10L, 15L, 20L, 25L))
    assert(got(5L) == ((30L, 1L, 11L, 0L)), s"exact copy: ${got(5L)}")
    assert(got(10L) == ((30L, 0L, 1L, 0L)), s"window overlap: ${got(10L)}")
    assert(got(15L) == ((25L, 0L, 0L, 1L)), s"unique: ${got(15L)}")
    assert(got(20L) == ((10L, 1L, 1L, 0L)), s"short exact copy: ${got(20L)}")
    assert(got(25L) == ((9L, 0L, 0L, 1L)), s"short unique: ${got(25L)}")
  }

  test("d53: substring dedup merges overlapping 8-gram marks into exact spans") {
    import spark.implicits._
    val dir = scratch("d53_planted")
    def toks(prefix: String, n: Int): Seq[String] =
      (1 to n).map(i => s"$prefix$i")
    val shared = toks("s", 12) // planted cross-doc 12-token run
    val rep = toks("c", 8)     // planted WITHIN-doc repeated 8-gram
    val rows = Seq(
      // doc 1: run at positions 10..21 → dup starts 10..14 merge to ONE
      // span covering 12 tokens
      (1L, (toks("u", 10) ++ shared ++ toks("v", 8)).mkString(" ")),
      // doc 2: same run at positions 9..20 (boundary grams differ, so
      // only the 5 fully-interior grams are duplicated)
      (2L, (toks("p", 9) ++ shared ++ toks("q", 6)).mkString(" ")),
      // doc 3: the SAME 8-gram twice within one doc — unlike d31's
      // distinct-doc rule, self-repetition IS duplication here → two
      // disjoint spans of 8
      (3L, (rep ++ toks("m", 10) ++ rep).mkString(" ")),
      // doc 4: fully unique → untouched
      (4L, toks("z", 20).mkString(" ")))
    val df = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    GraftWriter.write(df, s"$dir/documents.parquet")
    val got = Pipeline.queries("d53_substring_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((30, 12L, 1L, 4000L)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((27, 12L, 1L, 4444L)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((26, 16L, 2L, 6154L)), s"doc3 (self-repeat): ${got(3L)}")
    assert(got(4L) == ((20, 0L, 0L, 0L)), s"doc4: ${got(4L)}")
  }

  test("d54: kNN graph edges stay in-cluster on planted clustered vectors") {
    // same clustered shape as d29/d45's corpora: tight 0.05 jitter
    // around 20 well-separated centers — same-cluster cosine ≈ 1,
    // cross-cluster ≈ 0, and sign-LSH collides same-cluster vectors in
    // nearly every table, so the graph's top-5 must stay in-cluster.
    val dir = scratch("planted-knn")
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    def center(): Array[Float] = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val centers = Seq.fill(20)(center())
    val rows = (0 until 500).map { i =>
      val c = centers(i % 20)
      val v = c.map(x => x + (rnd.nextFloat() * 2f - 1f) * 0.05f)
      (i.toLong, v, i % 20)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = Pipeline.queries("d54_knn_graph")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    // corpus-wide coverage: (almost) every node contributes edges —
    // this is the property d5/d6's 10-query entries cannot show
    val nodes = got.map(_._1).distinct
    assert(nodes.length >= 450, s"only ${nodes.length}/500 nodes have edges")
    got.foreach { case (v, n, rn) =>
      assert(v != n && rn >= 1 && rn <= 5, s"bad edge ($v,$n,rn=$rn)")
    }
    val inCluster = got.count { case (v, n, _) => v % 20 == n % 20 }
    assert(inCluster.toDouble / got.length >= 0.9,
      s"in-cluster fraction $inCluster/${got.length}")
  }

  test("d55: star-contraction components equal a union-find over d13's edges") {
    // same planted-cluster corpus as d54; the check is mechanical
    // self-consistency: d55's distributed large-star/small-star result
    // must equal an in-memory union-find over EXACTLY the edges d13
    // emits (same threshold), including min-root canonicalization and
    // component sizes — independent of how lucky the seed was.
    val dir = scratch("planted-knn-cc")
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    def center(): Array[Float] = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val centers = Seq.fill(20)(center())
    val rows = (0 until 500).map { i =>
      val c = centers(i % 20)
      val v = c.map(x => x + (rnd.nextFloat() * 2f - 1f) * 0.05f)
      (i.toLong, v, i % 20)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val edges = Pipeline.queries("d13_embed_neardup")(spark, dir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    (0L until 500L).foreach(i => parent(i) = i)
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val root = (0L until 500L).map(i => i -> find(i)).toMap
    val sz = root.values.groupBy(identity).map { case (r, g) => r -> g.size.toLong }
    val got = Pipeline.queries("d55_semdedup_components")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.length == 500, s"expected 500 labeled nodes, got ${got.length}")
    got.foreach { case (v, r, n, keep) =>
      assert(r == root(v), s"node $v: root $r, union-find says ${root(v)}")
      assert(n == sz(root(v)), s"node $v: size $n, union-find says ${sz(root(v))}")
      assert(keep == (v == r), s"node $v: keep flag $keep with root $r")
    }
    // the corpus is 20 planted clusters: the labeling must be non-trivial
    assert(sz.count(_._2 > 1) >= 15, s"too few multi-node components: $sz")
  }

  test("d55: labels propagate across multi-hop chains (transitivity)") {
    // a 4-node path graph: unit vectors rotated 55° apart in a 2D plane
    // of the 64-dim space — adjacent cosine cos(55°)=0.574 ≥ 0.4 (edge),
    // two hops cos(110°)=-0.34 < 0.4 (no edge). One component {0,1,2,3}
    // exists ONLY via 3-hop label propagation; a single-round min-of-
    // neighbors would leave node 3 mislabeled.
    val dir = scratch("chain-cc")
    import spark.implicits._
    val rows = (0 until 4).map { i =>
      val th = math.toRadians(55.0 * i)
      val v = Array.fill(64)(0f)
      v(0) = math.cos(th).toFloat; v(1) = math.sin(th).toFloat
      (i.toLong, v, 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val edges = Pipeline.queries("d13_embed_neardup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == Set((0L, 1L), (1L, 2L), (2L, 3L)),
      s"chain fixture expected exactly the adjacent pairs, got $edges")
    val got = Pipeline.queries("d55_semdedup_components")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == Set((0L, 0L, 4L, true), (1L, 0L, 4L, false),
      (2L, 0L, 4L, false), (3L, 0L, 4L, false)), s"chain components: $got")
  }

  // ---------------------------------------------------------------- d82

  test("d82: truncation chains resolve to the longest keeper; diverging tails flagged false") {
    // ids avoid multiples of 3 so the operator's synthesized re-crawl
    // side stays out of the planted groups.
    val toks = (0 until 40).map(i => s"t$i")
    val dir = scratch("d82-plant")
    import spark.implicits._
    val docs = Seq(
      (1L, toks.mkString(" ")),                                   // full, 40 tokens
      (2L, toks.take(24).mkString(" ")),                          // truncation, 24
      (4L, toks.take(16).mkString(" ")),                          // exactly the key, 16
      (5L, (toks.take(16) ++ (0 until 14).map(i => s"x$i")).mkString(" ")), // same key, diverges
      (7L, (0 until 20).map(i => s"u$i").mkString(" ")),          // twin pair —
      (8L, (0 until 20).map(i => s"u$i").mkString(" ")),          //   same length
      (10L, (0 until 15).map(i => s"s$i").mkString(" ")))         // sub-key: excluded
    graft.sources.GraftWriter.write(
      docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$dir/documents.parquet")
    val out = Pipeline.queries("d82_prefix_dups")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    assert(out === Set(
      (2L, 1L, 24L, 40L, true),    // true truncation
      (4L, 1L, 16L, 40L, true),    // key-length doc is still a prefix
      (5L, 1L, 30L, 40L, false),   // shared key but diverging tail
      (8L, 7L, 20L, 20L, true)),   // equal-length twin: min-id keeper
      s"got $out")
  }

  // ---------------------------------------------------------------- d83

  test("d83: novelty counts distinct grams whose first occurrence is this doc") {
    val dir = scratch("d83-plant")
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),          // grams {abc, bcd} — both novel → 1000‰
      (2L, "a b c x"),          // {abc, bcx} — abc seen in doc 1 → 500‰
      (3L, "a b c d"),          // exact repeat → 0 novel → 0‰
      (4L, "z z"),              // < 3 tokens → zero grams
      (5L, "p q r p q r"))      // repeats inside ONE doc are distinct-counted
    graft.sources.GraftWriter.write(
      docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$dir/documents.parquet")
    val out = Pipeline.queries("d83_novelty_rate")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) === ((2L, 2L, 1000L)))
    assert(out(2L) === ((2L, 1L, 500L)), "a seen gram is not novel")
    assert(out(3L) === ((2L, 0L, 0L)), "an exact repeat has zero novelty")
    assert(out(4L) === ((0L, 0L, 0L)), "sub-gram docs report zeros")
    // "p q r p q r": 4 grams, distinct {pqr, qrp, rpq} = 3, all novel
    assert(out(5L) === ((3L, 3L, 1000L)),
      s"within-doc repeats count once: ${out(5L)}")
  }

  // ---------------------------------------------------------------- d84

  test("d84: quantization matches an independent reference bit-for-bit; zero dim is total") {
    val dir = scratch("d84-plant")
    import spark.implicits._
    val rnd = new scala.util.Random(84)
    // dim 0: planted extremes; dim 1: all-zero (absmax = 0); dims 2-3: random
    val vecs = (0 until 9).map { i =>
      val v = new Array[Float](4)
      v(0) = Seq(1.0f, -0.5f, 0.25f, -1.0f, 0.1f, 0f, 0.7f, -0.3f, 0.9f)(i)
      v(1) = 0f
      v(2) = rnd.nextFloat() * 2f - 1f
      v(3) = (rnd.nextFloat() - 0.5f) * 0.01f
      (i.toLong, v, 0)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Pipeline.queries("d84_int8_quant")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (d <- 0 until 4) {
      val xs = vecs.map(_._2(d).toDouble)
      val absmax = xs.map(math.abs).max
      val qs = xs.map(x => if (absmax == 0) 0L
        else math.max(-127L, math.min(127L, math.floor(x * 127d / absmax + 0.5d).toLong)))
      val errs = xs.zip(qs).map { case (x, q) =>
        if (absmax == 0) 0d else math.abs(x - q.toDouble * absmax / 127d) }
      val want = (r4(absmax), qs.sum, qs.count(q => math.abs(q) == 127).toLong,
        r4(errs.max), r4(errs.sum / errs.length))
      assert(out(d.toLong) === want, s"dim $d: got ${out(d.toLong)}, want $want")
    }
    assert(out(1L) === ((0d, 0L, 0L, 0d, 0d)), "an all-zero dimension quantizes to zeros")
    assert(out(0L)._3 === 2L, "both ±absmax extremes saturate")
  }

  // ---------------------------------------------------------------- d95

  test("d95: unit vectors project to the sign rows exactly; sentinels and JL band hold") {
    val dir = scratch("d95-plant")
    import spark.implicits._
    val rnd = new scala.util.Random(95)
    def unit(d: Int): Array[Float] = {
      val v = new Array[Float](64); v(d) = 1f; v
    }
    val rv = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    // 0:e₀, 1:zeros, 2:e₁, 3:random, 4=5:duplicates (zero distance)
    val vecs = Seq(
      (0L, unit(0), 0), (1L, new Array[Float](64), 0), (2L, unit(1), 0),
      (3L, rv, 0), (4L, rv.map(_ + 1f), 0), (5L, rv.map(_ + 1f), 0))
    vecs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Pipeline.queries("d95_random_projection")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (((0 until 8).map(j => r.getDouble(1 + j)),
          r.getDouble(9), r.getDouble(10), r.getLong(11)))).toMap
    // a unit vector's projection IS the corresponding sign-matrix column
    assert(out(0L)._1 === (0 until 8).map(j => Pipeline.rpSigns(j)(0).toDouble),
      s"e0 projection != sign column: ${out(0L)}")
    assert(out(2L)._1 === (0 until 8).map(j => Pipeline.rpSigns(j)(1).toDouble),
      s"e1 projection != sign column: ${out(2L)}")
    assert(out(1L)._1 === Seq.fill(8)(0.0), "zeros project to zeros")
    // pair (0,1): d2o = 1, d2p = Σ±1² = 8 → exactly 1000‰
    assert((out(0L)._2, out(0L)._3, out(0L)._4) === ((1.0, 8.0, 1000L)))
    assert((out(1L)._2, out(1L)._3, out(1L)._4) === ((1.0, 8.0, 1000L)))
    // pair (4,5): identical vectors — zero distances, −1 ratio sentinel
    assert((out(4L)._2, out(4L)._3, out(4L)._4) === ((0.0, 0.0, -1L)))
    // vec 5 has no +1 partner — all three audit sentinels
    assert((out(5L)._2, out(5L)._3, out(5L)._4) === ((-1.0, -1.0, -1L)))
  }

  test("d95: real-corpus mean distance ratio concentrates near 1000‰ (JL)") {
    val rows = Pipeline.queries("d95_random_projection")(spark, sfTiny)
      .filter(col("ratio_pm") >= 0).select(avg("ratio_pm"), count(lit(1)))
      .collect().head
    val (mean, n) = (rows.getDouble(0), rows.getLong(1))
    assert(n >= 100, s"audit pairs missing: $n")
    assert(mean >= 700 && mean <= 1300,
      s"JL concentration violated: mean ratio $mean over $n pairs")
  }

  // ---------------------------------------------------------------- d97

  test("d97: labels flood the planted chain in round order; ties elect the smaller") {
    val dir = scratch("d97-plant")
    import spark.implicits._
    // Geometry (64-d unit vectors; within-group members are IDENTICAL
    // copies, so within-group cosines are exactly 1.0 and every
    // member shares every LSH bucket):
    //   A=e0 (seed 0, label 1)   B=e1 (seed 5, label 2)
    //   C=e2 (label 7, NO seed — must stay unlabeled)
    //   D=0.9·A+√.19·e3, E=0.9·D+√.19·e4, F=0.9·E+√.19·e5 — a cosine
    //   chain: each rung's top-5 fills with 2 within + 3 prior-rung
    //   (0.9 beats 0.81), so labels arrive at rounds 1/2/3 exactly
    //   A2=e6 (seed 35, label 8), B2=e7 (seed 40, label 4), and the
    //   tie gadget T=(e6+e7)/√2 (label 9): T's top-5 = 2 within +
    //   0.707-ties {35, 40, 42} by id — one labeled neighbor per side
    //   in round 1 → 1:1 tie → the SMALLER label (4) must win
    val s19 = math.sqrt(0.19)
    def v(parts: (Int, Double)*): Array[Float] = {
      val a = new Array[Float](64)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a
    }
    val uA = v(0 -> 1d); val uB = v(1 -> 1d); val uC = v(2 -> 1d)
    val uD = v(0 -> 0.9, 3 -> s19)
    val uE = v(0 -> 0.81, 3 -> 0.9 * s19, 4 -> s19)
    val uF = v(0 -> 0.729, 3 -> 0.81 * s19, 4 -> 0.9 * s19, 5 -> s19)
    val uG = v(6 -> 1d); val uH = v(7 -> 1d)
    val uT = v(6 -> math.sqrt(0.5), 7 -> math.sqrt(0.5))
    val groups: Seq[(Seq[Long], Array[Float], Int)] = Seq(
      (Seq(0L, 1L, 2L, 3L, 4L, 6L), uA, 1),
      (Seq(5L, 7L, 8L, 9L, 11L, 12L), uB, 2),
      (Seq(13L, 14L, 16L, 17L, 18L, 19L), uC, 7),
      (Seq(21L, 22L, 23L), uD, 1),
      (Seq(26L, 27L, 28L), uE, 1),
      (Seq(31L, 32L, 33L), uF, 1),
      (Seq(36L, 38L, 39L), uT, 9),
      (Seq(35L, 42L, 43L, 44L, 46L, 47L), uG, 8),
      (Seq(40L, 48L, 49L, 51L, 52L, 53L), uH, 4))
    groups.flatMap { case (ids, u, l) => ids.map(id => (id, u, l)) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Pipeline.queries("d97_label_propagation")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(2), r.getInt(3), r.getInt(4), r.getBoolean(5))))
      .toMap
    def want(ids: Seq[Long], tl: Int, lf: Int, fr: Int): Unit = ids.foreach { id =>
      val seed = id % 5 == 0
      val w = (tl, seed, lf, if (seed) 0 else fr, lf == tl)
      assert(out(id) === w, s"vec $id: got ${out(id)}, want $w")
    }
    want(Seq(0L, 1L, 2L, 3L, 4L, 6L), 1, 1, 1)       // A floods round 1
    want(Seq(5L, 7L, 8L, 9L, 11L, 12L), 2, 2, 1)     // B floods round 1
    want(Seq(13L, 14L, 16L, 17L, 18L, 19L), 7, -1, -1) // seedless C never labels
    want(Seq(21L, 22L, 23L), 1, 1, 1)                // D: seed 0 in its tie set
    want(Seq(26L, 27L, 28L), 1, 1, 2)                // E: one hop behind D
    want(Seq(31L, 32L, 33L), 1, 1, 3)                // F: two hops behind
    want(Seq(35L, 42L, 43L, 44L, 46L, 47L), 8, 8, 1)
    want(Seq(40L, 48L, 49L, 51L, 52L, 53L), 4, 4, 1)
    want(Seq(36L, 38L, 39L), 9, 4, 1)                // 1:1 tie → smaller label 4
  }

  test("d97: real-corpus invariants — seeds clamp, rounds monotone, coverage near-total") {
    val out = Pipeline.queries("d97_label_propagation")(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getInt(3),
        r.getInt(4), r.getBoolean(5)))
    assert(out.nonEmpty)
    for ((id, tl, seed, lf, fr, ok) <- out) {
      if (seed) assert(lf === tl && fr === 0 && ok, s"seed $id not clamped")
      assert(fr >= -1 && fr <= 3, s"vec $id round out of range: $fr")
      assert((lf == -1) == (fr == -1), s"vec $id label/round inconsistent")
      assert(ok === (lf == tl), s"vec $id audit column wrong")
    }
    val nonSeed = out.filter(!_._3)
    val labeled = nonSeed.count(_._4 != -1)
    assert(labeled * 10 >= nonSeed.length * 5,
      s"propagation covered only $labeled/${nonSeed.length} non-seeds")
  }

  // ---------------------------------------------------------------- d98

  test("d98: margin beats the hub, mutuality is two-sided, empty cells sentinel") {
    val dir = scratch("d98-plant")
    import spark.implicits._
    def v(parts: (Int, Double)*): Array[Float] = {
      val a = new Array[Float](64)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a
    }
    def tilt(c: Double, dim: Int): Array[Float] =
      v(0 -> c, dim -> math.sqrt(1 - c * c))
    // seeds 0..7 define the cells (lang de — they join no side);
    // cell 0 holds the planted geometry, cell 1 an en vector with no
    // fr partner. The hub h sits at cos 0.98 from x1 (beating the
    // true pair y1's 0.97) but is near-identical to x2/x3, so its
    // k-NN mean is huge and its margin loses — the Artetxe point.
    val rows: Seq[(Long, Array[Float], String)] = Seq(
      (0L, v(0 -> 1d), "de"), (1L, v(1 -> 1d), "de"),
      (2L, v(8 -> 1d), "de"), (3L, v(9 -> 1d), "de"),
      (4L, v(10 -> 1d), "de"), (5L, v(11 -> 1d), "de"),
      (6L, v(12 -> 1d), "de"), (7L, v(13 -> 1d), "de"),
      (10L, v(0 -> 1d), "en"),         // x1
      (11L, tilt(0.97, 2), "fr"),      // y1: the true partner of x1
      (12L, tilt(0.97, 3), "en"),      // x2: near the hub
      (13L, tilt(0.96, 3), "en"),      // x3: near the hub
      (14L, tilt(0.98, 3), "fr"),      // h: the hub
      (15L, tilt(0.90, 4), "fr"),      // y2: background
      (16L, v(1 -> 1d), "en"))         // cell 1: no fr candidates
    rows.map { case (id, u, _) => (id, u, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    GraftWriter.write(
      rows.map { case (id, _, l) => (id, s"t$id", l, "s", 2L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$dir/documents.parquet")
    // independent reference: same cells, cosines, margins, elections
    val seeds = rows.filter(_._1 < 8).map(r => (r._1.toInt, r._2.map(_.toDouble)))
    val data = rows.filter(_._1 >= 8).map(r => (r._1, r._2.map(_.toDouble), r._3))
    def cos(a: Array[Double], b: Array[Double]): Long = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      math.round(d / (na * nb) * 10000)
    }
    def cell(u: Array[Double]): Int = seeds.map { case (cid, cv) =>
      val d2 = u.zip(cv).map { case (x, y) => (x - y) * (x - y) }.sum
      (BigDecimal(math.sqrt(d2)).setScale(6, BigDecimal.RoundingMode.HALF_EVEN), cid)
    }.min._2
    val en = data.filter(_._3 == "en").map(r => (r._1, r._2, cell(r._2)))
    val fr = data.filter(_._3 == "fr").map(r => (r._1, r._2, cell(r._2)))
    val pairs = for ((ia, va, ca) <- en; (ib, vb, cb) <- fr if ca == cb)
      yield (ia, ib, cos(va, vb))
    def topSum(xs: Seq[Long]): (Long, Long) = {
      val t = xs.sorted.reverse.take(4); (t.sum, t.length.toLong)
    }
    val sx = pairs.groupBy(_._1).map { case (i, ps) => i -> topSum(ps.map(_._3)) }
    val sy = pairs.groupBy(_._2).map { case (i, ps) => i -> topSum(ps.map(_._3)) }
    def margin(ia: Long, ib: Long, c: Long): Long = {
      val (sxa, kx) = sx(ia); val (syb, ky) = sy(ib)
      val den = sxa * ky + syb * kx
      if (den > 0) math.floor(1000.0 * 2 * c * kx * ky / den + 0.5).toLong else -1L
    }
    val scored = pairs.map { case (ia, ib, c) => (ia, ib, c, margin(ia, ib, c)) }
    val fwd = scored.filter(_._4 >= 0).groupBy(_._1).map { case (i, ps) =>
      i -> ps.maxBy(p => (p._4, -p._2)) }
    val bwd = scored.filter(_._4 >= 0).groupBy(_._2).map { case (i, ps) =>
      i -> ps.maxBy(p => (p._4, -p._1)) }
    val want = en.map(_._1).sorted.map { ia =>
      fwd.get(ia) match {
        case Some((_, ib, c, m)) =>
          (ia, ib, c, m, bwd.get(ib).exists(_._1 == ia))
        case None => (ia, -1L, 0L, -1L, false)
      }
    }
    val got = Pipeline.queries("d98_bitext_margin")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(got === want, s"reference mismatch:\ngot  $got\nwant $want")
    val byEn = got.map(r => r._1 -> r).toMap
    // the hub 14 has the top cosine from x1 yet x1 elects y1 = 11
    assert(cos(data.find(_._1 == 10L).get._2, data.find(_._1 == 14L).get._2) >
      cos(data.find(_._1 == 10L).get._2, data.find(_._1 == 11L).get._2))
    assert(byEn(10L)._2 === 11L && byEn(10L)._5,
      s"x1 must mutually elect the true pair over the hub: ${byEn(10L)}")
    assert(byEn(16L) === ((16L, -1L, 0L, -1L, false)),
      s"an en vector in an fr-free cell must sentinel: ${byEn(16L)}")
  }

  // ---------------------------------------------------------------- d99

  test("d99: integer pagerank equals an independent reference over d54's edges") {
    val edges = Pipeline.queries("d54_knn_graph")(spark, sfTiny)
      .select("vec_id", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = Pipeline.queries("d99_pagerank")(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val outd = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val ind = edges.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    var pr: Map[Long, Long] = nodes.map(n => n._1 -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => pr(u) / outd(u) }.sum).toMap
      pr = pr.map { case (v, _) => v -> (150000L + 850L * in.getOrElse(v, 0L) / 1000L) }
    }
    for ((id, od, idg, p) <- nodes) {
      assert(od === outd.getOrElse(id, 0L), s"outdeg wrong for $id")
      assert(idg === ind.getOrElse(id, 0L), s"in_deg wrong for $id")
      assert(p === pr(id), s"pr wrong for $id: got $p want ${pr(id)}")
      assert(p >= 150000L, s"pr below the teleport floor for $id")
    }
    // dangling and isolated nodes exist only if the LSH left them
    // candidate-less; either way every corpus row is present
    assert(nodes.length === Tables.load(spark, sfTiny, "embeddings").count())
  }

  // ---------------------------------------------------------------- d85

  test("d85: identical pairs land in decile 9 with full recall; disjoint pairs in decile 0") {
    val dir = scratch("d85-plant")
    import spark.implicits._
    val same = (0 until 30).map(i => s"w$i").mkString(" ")
    // ids 0-3: one identical clique (adjacent pairs all J = 1, same rep);
    // ids 10-13: pairwise-disjoint vocabularies (adjacent pairs J = 0)
    val docs = (0L to 3L).map(id => (id, same)) ++
      (10L to 13L).map(id => (id, (0 until 30).map(i => s"v${id}_$i").mkString(" ")))
    graft.sources.GraftWriter.write(
      docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$dir/documents.parquet")
    val out = Pipeline.queries("d85_lsh_recall")(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // clique pairs: (0,1)(0,2)(1,2)(1,3)(2,3) = 5; disjoint: (10,11)(10,12)(11,12)(11,13)(12,13) = 5
    assert(out(9) === ((5L, 5L, 1000L)),
      s"identical adjacent pairs must be decile-9 candidates: $out")
    assert(out(0)._1 === 5L && out(0)._2 === 0L,
      s"disjoint pairs are decile 0 and (deterministically) never collide: $out")
  }

  test("d85: real-corpus recall curve is well-formed") {
    val out = Pipeline.queries("d85_lsh_recall")(spark, sfTiny)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    for ((d, np, nc, rpm) <- out) {
      assert(d >= 0 && d <= 9 && nc <= np, s"decile $d malformed")
      assert(rpm == nc * 1000 / np, s"decile $d: recall_pm inconsistent")
    }
    // the high end of the S-curve: J >= 0.9 pairs are caught essentially
    // always (theory: 1-(1-0.9^8)^16 ≈ 0.9996) — only asserted when the
    // corpus provides a meaningful sample
    for ((d, np, _, rpm) <- out if d == 9 && np >= 5)
      assert(rpm >= 950, s"decile-9 recall collapsed: $out")
  }

  // ---------------------------------------------------------------- d88

  test("d88: hand-computed triplets — hard negative, positive, margin, tie, sentinels") {
    // Two seed anchors (ids 0 and 1 — the only ids < 8, so the
    // codebook is exactly {0 → (1,0), 1 → (−1,0)}). Cluster A holds
    // labels {0,0,1,0}; cluster B is single-label. All cosines land on
    // clean milli values (8000/9600/6000/2800/−2800).
    val dir = scratch("d88-plant")
    import spark.implicits._
    val rows = Seq(
      (0L, Array(1.0f, 0.0f), 0),     // anchor A
      (1L, Array(-1.0f, 0.0f), 2),    // anchor B
      (8L, Array(0.8f, 0.6f), 0),
      (9L, Array(0.6f, 0.8f), 1),     // the only label-1: no positive
      (10L, Array(0.6f, -0.8f), 0),
      (11L, Array(-0.8f, 0.6f), 2),
      (12L, Array(-0.8f, -0.6f), 2))  // cos(1,11) = cos(1,12) = 0.8 — tie
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Pipeline.queries("d88_hard_negatives")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getLong(9)))).toMap
    assert(out(0L) === ((0, 0, 2L, 1L, 9L, 6000L, 8L, 8000L, 2000L)))
    assert(out(8L) === ((0, 0, 2L, 1L, 9L, 9600L, 0L, 8000L, -1600L)),
      "a negative closer than the positive yields a negative margin")
    assert(out(9L) === ((1, 0, 0L, 3L, 8L, 9600L, -1L, 0L, 0L)),
      "a label with no positives gets the sentinel")
    assert(out(10L) === ((0, 0, 2L, 1L, 9L, -2800L, 0L, 6000L, 8800L)))
    assert(out(1L) === ((2, 1, 2L, 0L, -1L, 0L, 11L, 8000L, 0L)),
      "equal-cosine positives tie to the smaller id")
    assert(out(11L) === ((2, 1, 2L, 0L, -1L, 0L, 1L, 8000L, 0L)))
    assert(out(12L) === ((2, 1, 2L, 0L, -1L, 0L, 1L, 8000L, 0L)),
      "a single-label cell has no hard negative (sentinel)")
  }

  // ---------------------------------------------------------------- d90

  test("d90: source pairs share exactly their common distinct 5-grams") {
    val dir = scratch("d90-plant")
    import spark.implicits._
    val span = "c1 c2 c3 c4 c5" // the one shared 5-gram
    val rows = Seq(
      // srcA: the shared span + 4 own grams (8 tokens → 4 grams + span block)
      (1L, s"a1 a2 a3 a4 a5 a6 $span", "srcA"),
      // srcA doc 2 REPEATS the span — distinct-counted once per source
      (2L, s"$span x1", "srcA"),
      // srcB: shared span + own tail
      (3L, s"$span b1 b2 b3", "srcB"),
      // srcC: disjoint vocabulary — appears in NO pair row
      (4L, "z1 z2 z3 z4 z5 z6", "srcC"),
      // srcD: under 5 tokens — no grams at all
      (5L, "t1 t2 t3", "srcD"))
    graft.sources.GraftWriter.write(
      rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$dir/documents.parquet")
    val out = Pipeline.queries("d90_source_overlap")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // srcA distinct grams: doc1 has 8 (12 tokens), doc2 has 2 (6 tokens:
    // c1..c5,x1 → grams c1c2c3c4c5, c2c3c4c5x1) → union: doc1's 8 incl.
    // the span + c2..x1-style overlaps... compute: assert via totals read
    // from the output itself, and the PAIR semantics directly:
    val (shared, totA, totB, pm) = out(("srcA", "srcB"))
    assert(shared === 1L, s"exactly the planted span is shared: $out")
    assert(pm === 1000L / math.min(totA, totB) * shared ||
      pm === shared * 1000L / math.min(totA, totB), s"containment arithmetic: $out")
    assert(!out.contains(("srcA", "srcC")) && !out.contains(("srcB", "srcC")),
      "a disjoint source appears in no pair")
    assert(!out.keySet.exists { case (a, b) => a == "srcD" || b == "srcD" },
      "a sub-gram source has no rows")
    assert(out.keySet === Set(("srcA", "srcB")), s"only the one overlapping pair: $out")
  }

  test("d104: log2 profile over planted cluster sizes, integer per-mille shares") {
    // clusters of size 4 (bucket 2), 2 (bucket 1) and three singletons
    // (bucket 0) out of 9 docs — disjoint vocabularies keep the blocks
    // shared (same lang, same len bucket) but edge-free across clusters
    val dir = scratch("d104-plant")
    import spark.implicits._
    def body(v: String) = (0 until 12).map(j => s"$v$j").mkString(" ")
    val rows = Seq.fill(4)(body("a")) ++ Seq.fill(2)(body("b")) ++
      Seq("c", "d", "e").map(body)
    val df = rows.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "spec", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    GraftWriter.write(df, s"$dir/documents.parquet")
    val got = Pipeline.queries("d104_cluster_profile")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === Seq(
      (0, 3L, 3L, 0L, 333L),
      (1, 1L, 2L, 1L, 222L),
      (2, 1L, 4L, 3L, 444L)), s"got $got")
  }

  test("d106: paraphrase leak flags at the integer threshold, max over ALL benchmarks") {
    // bench: id 0 = x-axis, id 97 = y-axis (the %97 convention).
    // train: id 1 ∥ bench0 (cos 1.0 → flagged), id 2 ⊥ both (0 → not),
    // id 3 = 0.8x+0.6z (max cos 0.8 → under the 0.95 bar), id 4 =
    // 0.96y+0.28z — flagged only because the max scans the SECOND
    // benchmark vector
    val dir = scratch("d106-plant")
    import spark.implicits._
    def axis(i: Int, a: Float = 1f): Array[Float] =
      Array.tabulate(64)(j => if (j == i) a else 0f)
    def mix(i1: Int, a1: Float, i2: Int, a2: Float): Array[Float] =
      Array.tabulate(64)(j => if (j == i1) a1 else if (j == i2) a2 else 0f)
    val rows = Seq(
      (0L, axis(0), 9), (97L, axis(1), 9),               // benchmark side
      (1L, axis(0), 0), (2L, axis(2), 0),
      (3L, mix(0, 0.8f, 2, 0.6f), 1), (4L, mix(1, 0.96f, 2, 0.28f), 1))
    GraftWriter.write(rows.toDF("vec_id", "embedding", "label"),
      s"$dir/embeddings.parquet")
    val got = Pipeline.queries("d106_semantic_decontam")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === Seq(
      (0, 2L, 1L, 500L, 10000L),
      (1, 2L, 1L, 500L, 9600L)), s"got $got")
    // the benchmark vectors themselves never appear as train rows
    assert(!got.exists(_._1 == 9), "benchmark rows leaked into the audit")
  }

  test("d112: repeated grams rank with doc/source spread; self-repeats count") {
    val dir = scratch("d112-plant")
    import spark.implicits._
    // phrase P (8 tokens) appears in docs 1/2/3 across two sources →
    // n_occurrences 3; "a"×9 yields the same 8-gram at two OVERLAPPING
    // offsets in ONE doc → self-repeat counts (2, 1 doc, 1 source);
    // doc 5's singleton grams must not appear; the 7-token doc 6 drops
    val p = (0 until 8).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, p, "s1"), (2L, p, "s1"), (3L, p, "s2"),
      (4L, Seq.fill(9)("a").mkString(" "), "s2"),
      (5L, (0 until 8).map(i => s"u$i").mkString(" "), "s1"),
      (6L, (0 until 7).map(i => s"v$i").mkString(" "), "s1"))
    GraftWriter.write(
      docs.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$dir/documents.parquet")
    def run(): Seq[(Int, String, Long, Long, Long)] =
      Pipeline.queries("d112_memorization_risk")(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
    val got = run()
    val aGram = Seq.fill(8)("a").mkString(" ")
    assert(got === Seq(
      (1, p, 3L, 3L, 2L),
      (2, aGram, 2L, 1L, 1L)), s"got $got")
    // r13's small-corpus fast path (default here) and the de-spill
    // adaptive path must agree exactly
    val gotAdaptive = try {
      spark.conf.set("graft.d112.smallCap", "0")
      run()
    } finally spark.conf.unset("graft.d112.smallCap")
    assert(gotAdaptive === got, s"paths diverged: $gotAdaptive vs $got")
  }

  test("d117: intra-domain crawl dups split from cross-domain mirrors exactly") {
    val dir = scratch("d117-plant")
    import spark.implicits._
    def body(v: String) = (0 until 12).map(j => s"$v$j").mkString(" ")
    // cluster A: two copies whose sources are URL VARIANTS of one site
    // (www./path stripping must unify them → intra); cluster B: two
    // copies on different domains (→ cross); doc 5 is a singleton
    val docs = Seq(
      (1L, body("a"), "WWW.Same.com/a"), (2L, body("a"), "same.com/b?x=1"),
      (3L, body("b"), "one.org/p"), (4L, body("b"), "two.org/q"),
      (5L, body("c"), "x.org"))
    GraftWriter.write(
      docs.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$dir/documents.parquet")
    val got = Pipeline.queries("d117_dup_provenance")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === Seq(("corpus", 2L, 1L, 1L, 500L, 1L, 1L)), s"got $got")
  }

  test("d124: the ROI curve steps exactly at the planted jaccard levels") {
    // three pairs at exactly 1.0 ({p,q,r} twice), 0.75 ({a,b,c} vs
    // {a,b,c,d}) and 0.50 (6-sets sharing 4 of union 8); disjoint
    // vocabularies keep every cross pair under the bar
    val dir = scratch("d124-plant")
    import spark.implicits._
    val rows = Seq(
      (1L, "p q r"), (2L, "p q r"),
      (3L, "a b c"), (4L, "a b c d"),
      (5L, "m n o s t u"), (6L, "m n o s x y"))
    GraftWriter.write(
      rows.map { case (id, t) => (id, t, "en", "spec", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$dir/documents.parquet")
    val got = Pipeline.queries("d124_dedup_roi")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Seq((5000L, 3L, 1000L)) ++
      (5500L to 7500L by 500L).map(t => (t, 2L, 666L)) ++
      (8000L to 10000L by 500L).map(t => (t, 1L, 333L))
    assert(got === want, s"got $got")
  }

  test("d124: the curve is monotone and anchored at the full pair mass") {
    val rows = Pipeline.queries("d124_dedup_roi")(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 11)
    assert(rows.head._1 === 5000L && rows.head._3 === 1000L,
      "tau = 0.5 must carry the whole certified pair set")
    for (w <- rows.sliding(2); if w.length == 2)
      assert(w(1)._2 <= w(0)._2, s"pair count increased: ${w(0)} -> ${w(1)}")
  }

  test("d104: the mega-block corpus collapses to one exact bucket row") {
    // 30 clusters of 80 docs (bucket 6: 64 <= 80 < 128), 2400 docs total
    // → one row carrying the WHOLE corpus mass and 2370 removable dups
    val got = Pipeline.queries("d104_cluster_profile")(spark, megaBucketDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq((6, 30L, 2400L, 2370L, 1000L)), s"got $got")
  }

  test("d146: occupancy audit conserves mass and sees a planted identical clique") {
    // 5 byte-identical vectors share EVERY (table, signature) bucket;
    // 45 spread singles fill the rest. n = 50 -> sig_bits = 6. Mass
    // conservation is exact: sum(docs_mass) = 48 tables x 50 docs, and
    // the clique alone contributes >= 48 x C(5,2) candidate pair rows.
    val dir = scratch("planted-capacity")
    import spark.implicits._
    val rnd = new scala.util.Random(101)
    val cliqueVec = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val rows = (0 until 5).map(i => (i.toLong, cliqueVec, 0)) ++
      (5 until 50).map { i =>
        (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f), 1)
      }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = Pipeline.queries("d146_lsh_capacity")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.forall(_._2 == 6), s"n=50 must pick sig_bits 6: ${got.toSeq}")
    assert(got.map(_._4).sum === 48L * 50L,
      "docs_mass must conserve: every doc lands in exactly one bucket per table")
    assert(got.map(_._6).sum >= 48L * 10L,
      "the identical 5-clique must contribute C(5,2) pair rows in all 48 tables")
    assert(got.map(_._5).max >= 5L, "max occupancy must see the clique bucket")
  }
}
