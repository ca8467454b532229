package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 stress-data generator (VERDICT r5 #3): the driver ships
  * sf0.001/0.01/0.1 only, but the scale cliffs worth catching —
  * broadcast-threshold flips, LSH collision growth, window/join state
  * growth — first appear around sf1. This tool replicates sf0.1 tenfold
  * into a LOCAL scratch dir (never under /root/testdata) with
  * join-consistent key offsets, so every query still computes sensible
  * joins at 10× the rows.
  *
  * Replication is NOT naive row duplication:
  *  - all entity keys (order/cust/part/supp/event/user/doc/vec) shift
  *    by `copy * 100M`, so FK joins stay consistent per copy and
  *    cardinalities scale ×10;
  *  - `documents.lang` is remapped per copy (copy 0 untouched): lang is
  *    the dedup family's blocking key, and byte-identical text copies
  *    sharing a block would square the candidate-pair mass (×100 work
  *    for ×10 data — a replication artifact, not a scale property);
  *    distinct per-copy languages grow blocks the way a genuinely 10×
  *    corpus does (×10 blocks, same block sizes);
  *  - `embeddings.embedding` is re-randomized per copy (deterministic
  *    sin-hash; copy 0 untouched) — identical vectors would plant ×90
  *    artificial near-dup pairs per vector for d13/d36.
  *
  * Usage: runMain graft.ScaleData <srcSfDir> <outDir> [copies=10]
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // optional 4th arg: comma-separated table subset (e.g.
    // "documents,embeddings" for the sf10 dedup/ANN probe, where
    // replicating 6 GB of unused TPC-H fact tables would just burn
    // the stress budget); empty/absent = all tables.
    val only: Set[String] = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    def wanted(name: String): Boolean = only.isEmpty || only(name)
    val stride = 100000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def shift(keys: String*)(df: DataFrame, i: Int): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(stride * i)))

    // Write each table as ONE plain `<name>.parquet` FILE (not a Spark
    // part-file directory) so the stress set is byte-layout-identical
    // to the driver testdata: the a3/a8 oracles pin provenance/listing
    // output to that layout, and single-file-vs-directory differences
    // are harness noise, not engine behavior.
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    def landFile(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/_tmp_$name"
      // 2 MB row groups (round 12): repartition(1) under the default
      // 128 MB parquet block size lands the whole table in ONE row
      // group, and Spark assigns a row group to the single split that
      // contains its midpoint — every probe scan's map stage ran as ONE
      // task regardless of split count (event-log evidence: d112's
      // dominant stage, 32 tasks, 186 of 200 task-seconds in one task).
      // Real corpora are many-file/many-row-group; small groups restore
      // that shape while keeping the single-file layout the a3/a8
      // provenance oracles pin.
      df.repartition(1).write.mode("overwrite")
        .option("parquet.block.size", (2L * 1024 * 1024).toString)
        .parquet(tmp)
      val fs = new Path(outDir).getFileSystem(hconf)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath)
        .find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val dest = new Path(s"$outDir/$name.parquet")
      fs.delete(dest, true)
      fs.rename(part, dest)
      fs.delete(new Path(tmp), true)
    }

    def scaled(name: String)(f: (DataFrame, Int) => DataFrame): Unit =
      if (wanted(name)) {
        val base = Tables.load(spark, srcDir, name)
        landFile((0 until copies).map(i => f(base, i)).reduce(_ unionAll _), name)
        println(s"[scale] $name x$copies done")
      }

    // shared dimensions: one copy (25 nations / 5 regions at any SF)
    Seq("region", "nation").filter(wanted).foreach { n =>
      landFile(Tables.load(spark, srcDir, n), n)
      println(s"[scale] $n passthrough done")
    }
    scaled("customer")(shift("c_custkey"))
    scaled("supplier")(shift("s_suppkey"))
    scaled("part")(shift("p_partkey"))
    scaled("orders")(shift("o_orderkey", "o_custkey"))
    scaled("lineitem")(shift("l_orderkey", "l_partkey", "l_suppkey"))
    scaled("events")(shift("event_id", "user_id"))
    scaled("documents") { (df, i) =>
      val shifted = shift("doc_id")(df, i)
      if (i == 0) shifted
      else {
        // Permute the alphabet per copy (round 11): byte-identical text
        // copies share every TEXT-KEYED lsh bucket (minhash bands,
        // shingle indexes — keys that carry no lang), so the candidate
        // pair mass of d15/d55-style operators grew ×copies² — a
        // replication artifact, not a scale property (the r11 sf10
        // probe hit it as a d15 timeout and a d55 spill-to-disk-full).
        // A seeded per-copy alphabet PERMUTATION (not a 26-class Caesar
        // rotation, which repeats at copies ≥ 27 — review finding) is
        // injective per copy, so every WITHIN-copy jaccard / shingle /
        // winnowing structure is preserved exactly, while cross-copy
        // token spaces are distinct for any practical copy count
        // (collision odds ~copies²/26!). Length-preserving ⇒ n_chars
        // stays valid. Deterministic: seeded Fisher-Yates per copy.
        // Digits get their own seeded permutation (advisor r11: a
        // letters-only map left numeric tokens byte-identical across
        // copies, so number-heavy text still collapsed cross-copy LSH
        // buckets). Caveat, documented not fixed: punctuation-only and
        // CJK-bearing tokens still share cross-copy shingles — the
        // driver corpora are ASCII-word-dominated, so the residue is
        // noise there; a CJK-heavy stress corpus would need
        // copy-salted shingle keys in the probe instead.
        val lower = "abcdefghijklmnopqrstuvwxyz"
        val digits = "0123456789"
        val rnd = new scala.util.Random(i.toLong)
        val perm = rnd.shuffle(lower.toList).mkString
        val dperm = rnd.shuffle(digits.toList).mkString
        shifted
          .withColumn("lang", concat(lit(s"x${i}_"), col("lang")))
          .withColumn("text", translate(col("text"),
            lower + lower.toUpperCase + digits,
            perm + perm.toUpperCase + dperm))
      }
    }
    scaled("embeddings") { (df, i) =>
      val shifted = shift("vec_id")(df, i)
      if (i == 0) shifted
      else {
        shifted.withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> cast(sin(x * ${i + 2} * 7.3 + j * 0.37) as float))"))
      }
    }
    spark.stop()
  }
}
