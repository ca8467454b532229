package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.{JaccardSim, MinHashBands, MisraGries, SimHash64}

/** Randomized property tests for the similarity kernels — pure
  * expression-level invariants the dedup plans depend on, checked over
  * seeded random inputs without spinning Spark jobs (kernels invoked
  * directly / via Literal.eval).
  *
  *  - hash and merge jaccard kernels agree wherever the merge kernel's
  *    precondition (sorted, distinct) holds — d4/d15 rely on swapping
  *    one for the other being invisible;
  *  - the hash kernel matches a reference set computation on ARBITRARY
  *    (unsorted, duplicate-carrying) input;
  *  - minhash band keys are ORDER- and DUPLICATE-invariant — d15's
  *    collapse of identical word-SETS to one rep assumes banding sees
  *    the set, not the sequence;
  *  - simhash is order-invariant (d3's chunk banding assumes it).
  */
class KernelPropertySpec extends AnyFunSuite {

  private val Rounds = 300
  private def rng(testSeed: Long) = new scala.util.Random(0x9e3779b97f4a7c15L ^ testSeed)

  private def randTokens(r: scala.util.Random): List[String] = {
    val n = r.nextInt(40)
    List.fill(n) {
      val len = 1 + r.nextInt(8)
      // small alphabet → frequent collisions/overlaps between the lists
      List.fill(len)(('a' + r.nextInt(6)).toChar).mkString
    }
  }

  private def arr(xs: Seq[String]): ArrayData =
    new GenericArrayData(xs.map(s => UTF8String.fromString(s)).toArray[Any])

  private def lit(xs: Seq[String]): Literal =
    Literal.create(xs, ArrayType(StringType))

  private def refJaccard(a: Seq[String], b: Seq[String]): Double = {
    val (sa, sb) = (a.toSet, b.toSet)
    val union = (sa ++ sb).size
    if (union == 0) 0.0 else (sa & sb).size.toDouble / union
  }

  test("path-syntax rewrite: literals survive, table refs rewrite, idempotent") {
    import graft.sources.PathSyntax.rewrite
    val r = rng(0x9157)
    val words = Seq("from", "join", "FROM", "select", "x", "where")
    sealed trait Part { def text: String }
    case class Word(text: String) extends Part
    case class Lit(text: String) extends Part      // quoted literal, must survive verbatim
    case class PathRef(path: String) extends Part { // must rewrite
      def text = s"FROM '$path'"
    }
    case class Other(text: String) extends Part
    for (_ <- 1 to Rounds) {
      // random SQL-ish text: words, single/double-quoted literals (some
      // containing from/join, escaped quotes, apostrophes), line/block
      // comments, and path refs
      val raw = List.fill(1 + r.nextInt(8)) {
        r.nextInt(7) match {
          case 0 => Word(words(r.nextInt(words.length)))
          case 1 => Lit("'" + words(r.nextInt(words.length)).replace("'", "''") + " tail'")
          case 2 => Lit("\"from '/tmp/t" + r.nextInt(9) + ".parquet'\"") // double-quoted string
          case 3 => PathRef(s"/tmp/t${r.nextInt(9)}.parquet")
          case 4 => Other(s"-- it's from 'x.parquet'\n")     // apostrophe in line comment
          case 5 => Other(s"/* don't from '/y.csv' */")      // apostrophe in block comment
          case _ => Other(s"x = ${r.nextInt(100)}")
        }
      }
      // a bare FROM/JOIN word directly before a literal IS a path ref by
      // design — separate them so every part's expectation is unambiguous
      val parts = raw.flatMap {
        case w @ Word(t) if t.equalsIgnoreCase("from") || t.equalsIgnoreCase("join") =>
          List(w, Word("tbl"))
        case p => List(p)
      }
      val sql = parts.map(_.text).mkString(" ")
      val out = rewrite(sql)
      parts.foreach {
        case Lit(l) =>
          assert(out.contains(l), s"literal $l corrupted:\n$sql\n$out")
        case p @ PathRef(path) =>
          assert(out.contains(s"FROM parquet.`$path`"),
            s"path ref ${p.text} not rewritten:\n$sql\n$out")
          assert(!out.contains(p.text), s"path ref ${p.text} left raw:\n$sql\n$out")
        case Other(o) =>
          assert(out.contains(o), s"segment $o corrupted:\n$sql\n$out")
        case _ => ()
      }
      assert(rewrite(out) == out, s"not idempotent:\n$sql\n$out")
    }
    // pinned cases: the exact traps
    assert(rewrite("SELECT concat('from ', x) FROM '/a/b.parquet'") ==
      "SELECT concat('from ', x) FROM parquet.`/a/b.parquet`")
    assert(rewrite("SELECT 'FROM ''/x.csv''' FROM t") == "SELECT 'FROM ''/x.csv''' FROM t")
    assert(rewrite("select * from '/x/y.csv' join '/z.jsonl' on 1=1") ==
      "select * from csv.`/x/y.csv` join json.`/z.jsonl` on 1=1")
    assert(rewrite("SELECT quack('Anna')") == "SELECT quack('Anna')")
    // expression-FROM inside function calls must NOT rewrite
    assert(rewrite("SELECT trim(BOTH 'x' FROM 'xyx')") ==
      "SELECT trim(BOTH 'x' FROM 'xyx')")
    assert(rewrite("SELECT EXTRACT(YEAR FROM '2020-01-01')") ==
      "SELECT EXTRACT(YEAR FROM '2020-01-01')")
    assert(rewrite("SELECT substring('abcdef' FROM 2 FOR 3)") ==
      "SELECT substring('abcdef' FROM 2 FOR 3)")
    // ...but table-FROM inside subquery/EXISTS parens still rewrites
    assert(rewrite("SELECT * FROM (SELECT * FROM '/a.parquet') t") ==
      "SELECT * FROM (SELECT * FROM parquet.`/a.parquet`) t")
    assert(rewrite("SELECT 1 WHERE EXISTS (SELECT 1 FROM '/a.parquet')") ==
      "SELECT 1 WHERE EXISTS (SELECT 1 FROM parquet.`/a.parquet`)")
    assert(rewrite("SELECT coalesce((SELECT max(x) FROM '/a.parquet'), 0)") ==
      "SELECT coalesce((SELECT max(x) FROM parquet.`/a.parquet`), 0)")
    // double-quoted strings (default non-ANSI Spark: string literals)
    assert(rewrite("SELECT \"from '/a.parquet'\"") == "SELECT \"from '/a.parquet'\"")
    // escaped quotes inside a path literal: the emitted identifier must
    // carry the literal's VALUE ('' and \' both mean one apostrophe)
    assert(rewrite("SELECT * FROM '/data/it''s.parquet'") ==
      "SELECT * FROM parquet.`/data/it's.parquet`")
    assert(rewrite("SELECT * FROM '/data/it\\'s.parquet'") ==
      "SELECT * FROM parquet.`/data/it's.parquet`")
    assert(rewrite("SELECT * FROM '/data/a\\\\b.parquet'") ==
      "SELECT * FROM parquet.`/data/a\\b.parquet`")
    // an apostrophe inside a comment must not desync later rewrites
    assert(rewrite("-- don't\nSELECT * FROM '/a.parquet'") ==
      "-- don't\nSELECT * FROM parquet.`/a.parquet`")
    assert(rewrite("/* it's */ SELECT * FROM '/a.parquet'") ==
      "/* it's */ SELECT * FROM parquet.`/a.parquet`")
  }

  test("jaccard: hash kernel matches reference sets on arbitrary input") {
    val r = rng(1)
    (1 to Rounds).foreach { _ =>
      val (a, b) = (randTokens(r), randTokens(r))
      assert(JaccardSim.hashJaccard(arr(a), arr(b)) == refJaccard(a, b),
        s"a=$a b=$b")
    }
  }

  test("subset: merge kernel agrees with Set.subsetOf on sorted-distinct input") {
    val r = rng(0x50b5e7)
    var subs = 0
    for (_ <- 1 to Rounds) {
      val a0 = randTokens(r)
      // half the rounds: force a true subset (sample of b) so both
      // branches are exercised, not just the overwhelmingly-likely
      // non-subset case
      val b = randTokens(r)
      val a = if (r.nextBoolean()) a0 else b.filter(_ => r.nextBoolean())
      val sa = a.distinct.sorted
      val sb = b.distinct.sorted
      val got = graft.expressions.SubsetSorted.mergeSubset(arr(sa), arr(sb))
      val want = sa.toSet.subsetOf(sb.toSet)
      assert(got == want, s"a=$sa b=$sb got=$got want=$want")
      if (want) subs += 1
    }
    assert(subs > 20, s"degenerate generator: only $subs subset cases")
  }

  test("jaccard: merge kernel agrees with hash kernel on sorted-distinct input") {
    val r = rng(2)
    (1 to Rounds).foreach { _ =>
      // UTF8String (byte-wise) ordering, the order array_sort produces —
      // sorting with JVM String ordering here would silently break the
      // merge precondition for non-ASCII
      val sa = randTokens(r).distinct.map(UTF8String.fromString).sorted.map(_.toString)
      val sb = randTokens(r).distinct.map(UTF8String.fromString).sorted.map(_.toString)
      val m = JaccardSim.mergeJaccard(arr(sa), arr(sb))
      val h = JaccardSim.hashJaccard(arr(sa), arr(sb))
      assert(m == h, s"merge=$m hash=$h a=$sa b=$sb")
    }
  }

  test("jaccard: bail kernel is filter-equivalent to the unbailed kernel") {
    // The r13 verdict's done-criterion for the early-exit bailout:
    // over randomized sorted-distinct inputs and randomized thresholds,
    //  (a) whenever the bail kernel returns a non-negative value it is
    //      BIT-IDENTICAL to the plain merge kernel's value and that
    //      value is >= thr (as the exact 5-dp rational), and
    //  (b) whenever it bails (-1.0), the plain kernel's exact rational
    //      J is < thr — i.e. any >= thr consumer filter sees identical
    //      survivor sets and identical survivor values.
    val r = rng(7)
    var bails = 0
    (1 to Rounds * 4).foreach { _ =>
      val sa = randTokens(r).distinct.map(UTF8String.fromString).sorted.map(_.toString)
      val sb = randTokens(r).distinct.map(UTF8String.fromString).sorted.map(_.toString)
      val thrNum = 1L + r.nextInt(100000) // (0, 1] at 5-dp grain
      val plain = JaccardSim.mergeJaccard(arr(sa), arr(sb))
      val bail = JaccardSim.mergeJaccardBail(arr(sa), arr(sb), thrNum)
      // exact rational comparison of plain J vs thrNum/100000: J =
      // inter/union with union = |A ∪ B|
      val (setA, setB) = (sa.toSet, sb.toSet)
      val inter = (setA & setB).size.toLong
      val union = (setA ++ setB).size.toLong
      val qualifies = if (union == 0) false else inter * 100000L >= thrNum * union
      if (bail == -1.0) {
        bails += 1
        assert(!qualifies,
          s"bailed a qualifying pair: thr=$thrNum inter=$inter union=$union a=$sa b=$sb")
      } else {
        assert(bail == plain,
          s"non-bailed value diverged: bail=$bail plain=$plain thr=$thrNum a=$sa b=$sb")
      }
      // completeness both ways: a qualifying pair must never bail
      if (qualifies) assert(bail == plain && bail != -1.0)
    }
    assert(bails > Rounds, s"bailout never exercised meaningfully ($bails bails)")
  }

  test("minhash sig16: packed fields equal the low-16 truncation of the full signature") {
    // d23's quarter-width transport contract: for random token lists,
    // minhash_sig16's packed fields must be exactly the low 16 bits of
    // minhash_sig's components (same family, same seeds), and
    // sig_match_frac16 over the packed arrays must equal the
    // match-fraction computed on the truncations directly.
    import graft.expressions.{MinHashSig, SigMatchFrac}
    val r = rng(11)
    (1 to 80).foreach { _ =>
      val ta = randTokens(r)
      val tb = randTokens(r)
      def full(t: Seq[String]): Array[Long] =
        MinHashSig(lit(t)).eval(null).asInstanceOf[ArrayData].toLongArray()
      def packed(t: Seq[String]): ArrayData =
        MinHashSig(lit(t), pack16 = true).eval(null).asInstanceOf[ArrayData]
      val (fa, fb) = (full(ta), full(tb))
      val (pa, pb) = (packed(ta), packed(tb))
      assert(pa.numElements() == 32)
      val unpacked = pa.toLongArray().flatMap(l =>
        Seq((l >>> 48) & 0xffffL, (l >>> 32) & 0xffffL, (l >>> 16) & 0xffffL, l & 0xffffL))
      assert(unpacked.sameElements(fa.map(_ & 0xffffL)),
        "packed fields must be the low-16 truncation in component order")
      val ref = fa.zip(fb).count { case (x, y) => (x & 0xffffL) == (y & 0xffffL) } / 128.0
      val got = SigMatchFrac.matchFracPacked16(pa, pb)
      assert(got == ref, s"packed frac $got != truncated ref $ref")
    }
  }

  test("minhash bands: keys are order- and duplicate-invariant") {
    val r = rng(3)
    def keys(xs: Seq[String]): Seq[Long] =
      MinHashBands(lit(xs), numHashes = 128, bands = 16)
        .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    (1 to Rounds).foreach { _ =>
      val a = randTokens(r)
      val mutated = r.shuffle(a ++ r.shuffle(a).take(r.nextInt(a.length + 1)))
      assert(keys(a) == keys(mutated), s"a=$a mutated=$mutated")
    }
  }

  test("simhash: signature is order-invariant") {
    val r = rng(4)
    def sig(xs: Seq[String]): Long =
      SimHash64(lit(xs)).eval(null).asInstanceOf[Long]
    (1 to Rounds).foreach { _ =>
      val a = randTokens(r)
      assert(sig(a) == sig(r.shuffle(a)), s"a=$a")
    }
  }

  test("misra-gries: freq > n/k items survive any partition split + merge order") {
    // the distributive-aggregate contract d28 rests on: however the
    // stream is split into partitions and however the partial summaries
    // are merged, every item with true frequency > n/k is in the output
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    val r = rng(5)
    (1 to 40).foreach { _ =>
      val k = 8 + r.nextInt(24)
      val vocabN = 50 + r.nextInt(150)
      // skewed stream: low ids are heavy (id drawn as min of two uniforms)
      val stream = Seq.fill(1500 + r.nextInt(1500)) {
        math.min(r.nextInt(vocabN), r.nextInt(vocabN))
      }.map(i => f"w$i%04d")
      val n = stream.size
      val freq = stream.groupBy(identity).map { case (w, ws) => (w, ws.size) }
      val mg = MisraGries(BoundReference(0, StringType, nullable = true), k)
      // random split into 1..6 partitions, one partial summary each
      val nParts = 1 + r.nextInt(6)
      val partials = stream.groupBy(_ => r.nextInt(nParts)).values.map { part =>
        val buf = mg.createAggregationBuffer()
        part.foreach(w => mg.update(buf, InternalRow(UTF8String.fromString(w))))
        // roundtrip through serialize: the shuffle path the real agg takes
        mg.deserialize(mg.serialize(buf))
      }.toSeq
      val merged = r.shuffle(partials).reduce((a, b) => mg.merge(a, b))
      val out = mg.eval(merged).asInstanceOf[ArrayData]
      val survivors = (0 until out.numElements())
        .map(i => out.getUTF8String(i).toString).toSet
      freq.foreach { case (w, f) =>
        if (f.toDouble > n.toDouble / k)
          assert(survivors.contains(w),
            s"item $w freq=$f > n/k=${n.toDouble / k} missing (k=$k, parts=$nParts)")
      }
    }
  }

  test("topk_by: any partition split + merge order of buffer rows equals the sort") {
    // d54's aggregate top-k must replicate row_number over
    // (score desc, id asc) exactly for ANY map-side partial layout —
    // the distributivity the sort-free plan rests on. Partials and the
    // final buffer are UnsafeRows (the HashAggregate buffer format), at
    // random offsets inside wider rows as in a multi-aggregate plan.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
    import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
    import graft.expressions.TopKByScore
    val r = rng(31)
    (1 to 200).foreach { _ =>
      val k = 1 + r.nextInt(8)
      val n = r.nextInt(60)
      // coarse scores force ties; ids unique (the d54 contract)
      val rows = r.shuffle((0 until n).map(i =>
        (i.toLong, (r.nextInt(5) / 4.0))).toList)
      val agg = TopKByScore(
        BoundReference(0, LongType, nullable = true),
        BoundReference(1, DoubleType, nullable = true), k)
      def bufferRow(offset: Int): InternalRow = {
        val types: Array[DataType] =
          (Seq.fill(offset)(LongType) ++ agg.aggBufferSchema.map(_.dataType)).toArray
        UnsafeProjection.create(types).apply(new GenericInternalRow(types.length)).copy()
      }
      val (partOff, finalOff) = (r.nextInt(3), r.nextInt(3))
      val partial = agg.withNewMutableAggBufferOffset(partOff)
      val nParts = 1 + r.nextInt(5)
      val partials = rows.groupBy(_ => r.nextInt(nParts)).values.map { part =>
        val buf = bufferRow(partOff)
        partial.initialize(buf)
        part.foreach { case (i, s) => partial.update(buf, InternalRow(i, s)) }
        buf
      }.toSeq
      val fin = agg.withNewMutableAggBufferOffset(finalOff)
        .withNewInputAggBufferOffset(partOff)
      val merged = bufferRow(finalOff)
      fin.initialize(merged)
      r.shuffle(partials).foreach(p => fin.merge(merged, p))
      val out = fin.eval(merged).asInstanceOf[ArrayData]
      val got = (0 until out.numElements()).map { j =>
        val row = out.getStruct(j, 2); (row.getLong(0), row.getDouble(1))
      }
      val want = rows.sortBy { case (i, s) => (-s, i) }.take(k)
      assert(got == want, s"k=$k parts=$nParts\n got=$got\nwant=$want")
    }
  }

  test("hyperplane packed16: unpack_keys16 reproduces hyperplane_buckets bit-for-bit; " +
      "first_shared_lane16 agrees with first_shared_band on the unpacked keys") {
    // the emit-once transport contract (round 14): the in-join band
    // path explodes unpack_keys16(psig) where the old shape exploded
    // hyperplane_buckets(vec) — identical keys or the candidate set
    // silently changes; and the packed lane walk must pick the SAME
    // first shared table the unpacked array walk picks, for every
    // bits in the adaptiveBits range.
    import graft.expressions.{FirstSharedBand, FirstSharedLane16, HyperplaneBuckets, HyperplanePacked16, UnpackKeys16}
    val r = rng(29)
    def vec(r: scala.util.Random, jitterOf: Option[Array[Double]] = None): ArrayData =
      new GenericArrayData(jitterOf match {
        case Some(base) => base.map(x => x + r.nextGaussian() * 0.02)
        case None => Array.fill(64)(r.nextGaussian())
      })
    Seq(6, 9, 13, 16).foreach { bits =>
      (1 to 40).foreach { _ =>
        val base = Array.fill(64)(r.nextGaussian())
        val va = vec(r, Some(base)) // jittered near-dups: shared lanes exist
        val vb = vec(r, Some(base))
        val vc = vec(r) // independent: usually no shared lane at high bits
        def keys(v: ArrayData): Array[Long] =
          HyperplaneBuckets(Literal(v, ArrayType(org.apache.spark.sql.types.DoubleType)), 48, bits)
            .eval(null).asInstanceOf[ArrayData].toLongArray()
        def packed(v: ArrayData): ArrayData =
          HyperplanePacked16(Literal(v, ArrayType(org.apache.spark.sql.types.DoubleType)), 48, bits)
            .eval(null).asInstanceOf[ArrayData]
        Seq(va, vb, vc).foreach { v =>
          val unpacked = UnpackKeys16(
            Literal(packed(v), ArrayType(org.apache.spark.sql.types.LongType)), 48)
            .eval(null).asInstanceOf[ArrayData].toLongArray()
          assert(unpacked.sameElements(keys(v)),
            s"unpack_keys16 diverged from hyperplane_buckets at bits=$bits")
        }
        Seq((va, vb), (va, vc), (vb, vc)).foreach { case (x, y) =>
          val viaPacked = FirstSharedLane16.firstShared(packed(x), packed(y), 48)
          val viaKeys = FirstSharedBand.firstShared(
            new GenericArrayData(keys(x)), new GenericArrayData(keys(y)))
          assert(viaPacked == viaKeys,
            s"first shared table diverged at bits=$bits: packed=$viaPacked keys=$viaKeys")
        }
      }
    }
    // pad-lane guard (r14 advisor finding): when tables % 4 != 0 the
    // last word's zero-initialized pads compare equal on BOTH sides;
    // the tables bound must stop the walk before them (returning -1
    // when no genuine lane matches), never report a pad index >= tables
    val px = new GenericArrayData(Array[Long](
      1L | 2L << 16 | 3L << 32 | 4L << 48, 5L | 6L << 16))
    val py = new GenericArrayData(Array[Long](
      7L | 8L << 16 | 9L << 32 | 10L << 48, 11L | 12L << 16))
    assert(FirstSharedLane16.firstShared(px, py, 6) == -1,
      "bounded walk reported a zero pad lane as a shared table")
    assert(FirstSharedLane16.firstShared(px, py, Int.MaxValue) == 6,
      "sentinel check: without the bound the pad lane WOULD match (the guarded bug)")
  }
}
