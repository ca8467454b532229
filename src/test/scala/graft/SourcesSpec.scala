package graft

import org.apache.spark.sql.functions._
import graft.sources.{GraftReader, GraftWriter, HdfsConf}

/** SURVEY §2 A-block specs: scheme routing, glob, union, format
  * inference, csv/json options, partition pruning, listing. */
class SourcesSpec extends SparkSpecBase {

  test("a1: explicit file: scheme routes through the Hadoop FileSystem") {
    val df = GraftReader.read(spark, s"file:$sfTiny/nation.parquet")
    assert(df.count() == 25)
    assert(df.columns.contains("n_name"))
  }

  test("a1: HdfsConf normalizes namenodes and sets HA client keys") {
    assert(HdfsConf.normalizeNamenode("nn1:9000") == "hdfs://nn1:9000")
    assert(HdfsConf.normalizeNamenode("hdfs://nn1:9000") == "hdfs://nn1:9000")
    HdfsConf.configure(spark, haNameservice = Some(("svc", Seq("a:9000", "b:9000"))))
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.get("dfs.nameservices") == "svc")
    assert(conf.get("dfs.ha.namenodes.svc") == "nn0,nn1")
    assert(conf.get("dfs.namenode.rpc-address.svc.nn1") == "b:9000")
  }

  test("a2: glob patterns expand (*, ?, {a,b})") {
    assert(GraftReader.read(spark, s"$sfTiny/nat*.parquet").count() == 25)
    assert(GraftReader.read(spark, s"$sfTiny/nati?n.parquet").count() == 25)
    val dir = scratch("a2glob")
    val region = Tables.load(spark, sfTiny, "region")
    GraftWriter.write(region, s"$dir/r1.parquet")
    GraftWriter.write(region, s"$dir/r2.parquet")
    GraftWriter.write(region, s"$dir/other.parquet")
    assert(GraftReader.read(spark, s"$dir/{r1,r2}.parquet", "parquet").count() == 10)
  }

  test("a3: multi-file union-by-name carries _file provenance") {
    val df = GraftReader.readUnion(spark,
      Seq(s"$sfTiny/nation.parquet", s"$sfTiny/region.parquet"), "parquet")
    assert(df.count() == 30)
    val srcs = df.select(regexp_extract(col("_file"), "[^/]+$", 0)).distinct()
      .collect().map(_.getString(0)).toSet
    assert(srcs == Set("nation.parquet", "region.parquet"))
    // union-by-name: region rows have null nation columns and vice versa
    assert(df.filter(col("n_nationkey").isNull).count() == 5)
  }

  test("a4: format inferred from extension") {
    assert(GraftReader.inferFormat("/x/a.parquet") == "parquet")
    assert(GraftReader.inferFormat("/x/a.jsonl") == "json")
    assert(GraftReader.inferFormat("/x/a.tsv") == "csv")
    assert(GraftReader.inferFormat("hdfs://nn/x/part-*.csv") == "csv")
    assert(GraftReader.inferFormat("/x/noext") == "parquet")
  }

  test("a5: csv reader honors header/delimiter/schema options") {
    val dir = scratch("a5csv")
    val base = Tables.load(spark, sfTiny, "region").select("r_regionkey", "r_name")
    GraftWriter.write(base, s"$dir/region.tsv", format = Some("csv"),
      options = Map("sep" -> "\t", "header" -> "true"))
    val back = GraftReader.read(spark, s"$dir/region.tsv")
    assert(back.count() == 5)
    assert(back.columns.toSeq == Seq("r_regionkey", "r_name"))
  }

  test("a6: hive-partitioned read prunes partitions in the plan") {
    val dir = scratch("a6part")
    GraftWriter.write(
      Tables.load(spark, sfTiny, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus"),
      s"$dir/orders", format = Some("parquet"), partitionBy = Seq("o_orderstatus"))
    // AQE wraps the plan and hides the scan node — disable it here so the
    // scan's own metrics are reachable through this QueryExecution
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pruned = GraftReader.read(spark, s"$dir/orders", "parquet")
        .filter(col("o_orderstatus") === "F")
      val qe = pruned.queryExecution
      assert(qe.executedPlan.toString.contains("PartitionFilters"))
      assert(pruned.collect().nonEmpty)
      // the scan's own metric: exactly 1 of the 3 partition files read
      val numFiles = qe.executedPlan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value }
      assert(numFiles.nonEmpty && numFiles.forall(_ == 1L), numFiles.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("a11: compaction collapses the small-file directory and keeps every row") {
    // run the operator (it writes small/ at 64 files, compacted/ at
    // ceil(rows / 100k) = 1 file for the tiny SF), then assert the
    // file-count reduction the oracle can't see
    val out = graft.queries.Sources.queries("a11_compaction")(spark, sfTiny)
    assert(out.count() > 0)
    def parquetFiles(p: String): Int =
      GraftReader.listFiles(spark, s"$p/*.parquet")
        .filter(!col("is_dir")).collect().length
    val base = graft.queries.Sources.scratchDir
    assert(parquetFiles(s"$base/a11/small") == 64)
    assert(parquetFiles(s"$base/a11/compacted") == 1)
    // exact row preservation across the rewrite
    val docs = Tables.load(spark, sfTiny, "documents")
    assert(GraftReader.read(spark, s"$base/a11/compacted", "parquet").count() == docs.count())
  }

  test("a13: compressed roundtrip actually writes gzip csv + zstd parquet") {
    val out = graft.queries.Sources.queries("a13_compressed_read")(spark, sfTiny)
    assert(out.count() == 25)
    // the oracle proves content parity; the codec-on-disk part it can't
    // see: data files must carry the compression in their names
    val base = graft.queries.Sources.scratchDir
    val gzFiles = GraftReader.listFiles(spark, s"$base/a13/nation_csv_gz/*")
      .filter(!col("is_dir") && !col("path").contains("_SUCCESS"))
      .select("path").collect().map(_.getString(0))
    assert(gzFiles.nonEmpty && gzFiles.forall(_.endsWith(".csv.gz")),
      s"expected .csv.gz parts, got: ${gzFiles.mkString(", ")}")
    val zsFiles = GraftReader.listFiles(spark, s"$base/a13/nation_zstd.parquet/*")
      .filter(!col("is_dir") && !col("path").contains("_SUCCESS"))
      .select("path").collect().map(_.getString(0))
    assert(zsFiles.nonEmpty && zsFiles.forall(_.contains("zstd")),
      s"expected zstd parquet parts, got: ${zsFiles.mkString(", ")}")
  }

  test("a14: dynamic overwrite leaves other partitions' files physically untouched") {
    // the oracle proves content; this pins the mechanism — the O and P
    // partition FILES must be the same files (same paths, same mtimes)
    // after the F-only patch write, not rewritten copies
    val out = graft.queries.Sources.queries("a14_partition_overwrite")(spark, sfTiny)
    assert(out.count() == 3)
    val base = graft.queries.Sources.scratchDir
    def snap(p: String): Map[String, Long] =
      GraftReader.listFiles(spark, s"$base/a14/orders_by_status/$p/*")
        .filter(!col("is_dir")).select("path", "mtime_ms")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oBefore = snap("o_orderstatus=O")
    val fBefore = snap("o_orderstatus=F")
    // re-run ONLY the patch write (same child-session dynamic mode)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    Thread.sleep(1100) // ensure a distinguishable mtime granularity
    val patch = Tables.load(s2, sfTiny, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .filter(col("o_orderstatus") === "F")
      .withColumn("o_totalprice", col("o_totalprice") * 0.5)
    GraftWriter.write(
      patch.repartition(col("o_orderstatus")),
      s"$base/a14/orders_by_status",
      format = Some("parquet"), partitionBy = Seq("o_orderstatus"))
    assert(snap("o_orderstatus=O") == oBefore, "O partition was rewritten")
    assert(snap("o_orderstatus=F") != fBefore, "F partition was not rewritten")
  }

  test("a8: listing relation exposes path/size/mtime") {
    val df = GraftReader.listFiles(spark, s"$sfTiny/*.parquet")
    assert(df.columns.toSeq == Seq("path", "size", "mtime_ms", "is_dir"))
    assert(df.count() == 10)
    assert(df.filter(col("size") <= 0 || col("mtime_ms") <= 0).count() == 0)
    assert(GraftReader.exists(spark, s"$sfTiny/nation.parquet"))
    assert(!GraftReader.exists(spark, s"$sfTiny/nope.parquet"))
  }

  test("e4 dsv2: listing table returns real sizes and honors mixed dirs") {
    val dir = scratch("e4_mixed")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.csv"),
      "x,y\n1,2\n".getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.csv"),
      "x,y\n3,4\n5,6\n".getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "c.bin"),
      Array.fill[Byte](17)(1))
    def ls = spark.read.format("graft.sources.FileListSource").load(dir)
    assert(ls.count() == 3)
    // pushed name filter prunes at the listing, result is still exact
    val csv = ls.filter(col("name").endsWith(".csv"))
      .select("name", "size").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(csv.keySet == Set("a.csv", "b.csv"))
    assert(csv("a.csv") == 8L && csv("b.csv") == 12L)
    // size pushdown
    assert(ls.filter(col("size") > 12L).collect().map(_.getAs[String]("name"))
      .toSeq == Seq("c.bin"))
    // non-matching pushed filter -> zero planned rows, no error
    assert(ls.filter(col("name").endsWith(".zip")).count() == 0)
  }

  test("e4 dsv2: filters are consumed by the scan, columns pruned") {
    val df = spark.read.format("graft.sources.FileListSource")
      .load(s"$sfTiny/*.parquet")
      .filter(col("name").endsWith(".parquet"))
      .select("name")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GraftFileList"), s"no dsv2 scan in:\n$p")
    assert(p.contains("StringEndsWith(name,.parquet)"),
      s"name filter not pushed:\n$p")
    // the accepted filter must NOT be re-evaluated post-scan
    assert(!p.contains("FilterExec") &&
      !"(?i)\\bFilter\\b".r.findFirstIn(p.replaceAll("PushedFilters[^\\n]*", "")).isDefined,
      s"residual Filter survived pushdown:\n$p")
    // column pruning: the scan's output is just `name`
    val scanOut = df.queryExecution.executedPlan.collectLeaves().head.output
    assert(scanOut.map(_.name) == Seq("name"), s"scan output: $scanOut")
  }

  // ---------------------------------------------------------------- a16

  test("a16: manifest diff classifies ok / mismatch / missing / extra shards") {
    import spark.implicits._
    def docs(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // src shards (÷64): 0 = ids 0–63, 1 = 64–127, 2 = 128–191, 3 = 192–199
    val src = docs((0L until 200L).map(i => (i, s"doc $i text")))
    val dst = docs(
      (0L until 200L)
        .filterNot(i => i == 70 || i >= 192) // shard 1 loses a doc, shard 3 vanishes
        .map(i => (i, if (i == 5) "doc 5 TAMPERED" else s"doc $i text")) ++ // shard 0 corrupt
        (6400L to 6403L).map(i => (i, s"doc $i text"))) // extra shard 100
    val out = graft.queries.Sources.manifestDiff(src, dst).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out === Map(
      0L -> "mismatch",        // one tampered text flips the xor (bytes equal!)
      1L -> "mismatch",        // a dropped doc flips count+bytes+xor
      2L -> "ok",
      3L -> "missing_at_dest",
      100L -> "extra_at_dest"), s"got $out")
  }

  test("a16: a faithful roundtrip copy validates every shard ok") {
    val out = graft.queries.Sources.queries("a16_manifest_validate")(spark, sfTiny)
      .collect()
    assert(out.nonEmpty && out.forall(_.getString(4) == "ok"),
      s"faithful copy must be all-ok: ${out.map(_.getString(4)).toSeq}")
  }

  test("a17: z-buckets bound BOTH dims structurally; a 1-D sort does not") {
    // structural claim: z div 1024 fixes the top 3 interleaved bit
    // pairs, confining each quantized dimension to one 1/8 band —
    // span ≤ 31 of 256 in EVERY bucket, for BOTH columns
    val out = graft.queries.Sources.queries("a17_zorder")(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getInt(4), r.getInt(7)))
    assert(out.nonEmpty)
    for ((zb, xs, ys) <- out) {
      assert(xs <= 31, s"bucket $zb x_span $xs breaks the structural bound")
      assert(ys <= 31, s"bucket $zb y_span $ys breaks the structural bound")
    }
    // the write path must be the distributed range sort, not a
    // repartition(1) global sort: >1 output file, span bound intact
    val zFiles = new java.io.File(
      s"${graft.queries.Sources.scratchDir}/a17/lineitem_z")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(zFiles > 1,
      s"a17 wrote $zFiles parquet file(s) — the z layout must be a " +
        "multi-file repartitionByRange write, not a single-task sort")
    // the comparison layout: same quantization, orderkey-sorted into 64
    // equal-count buckets — the second dimension spans most of the domain
    val li = Tables.load(spark, sfTiny, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val mx = li.agg(max("l_orderkey").as("mo"), max("l_partkey").as("mp"))
    val q = li.crossJoin(broadcast(mx))
      .withColumn("xq", expr("cast(cast(l_orderkey as bigint) * 256 div (mo + 1) as int)"))
      .withColumn("yq", expr("cast(cast(l_partkey as bigint) * 256 div (mp + 1) as int)"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("xq", "yq")))
    val n = q.count()
    val oneD = q.withColumn("fb", expr(s"cast((rk - 1) * 64 / $n as int)"))
      .groupBy("fb").agg((max("yq") - min("yq")).as("y_span"))
      .agg(max("y_span")).collect().head.getInt(0)
    assert(oneD >= 128,
      s"1-D layout unexpectedly bounds the second dim (max y_span $oneD) — " +
        "the z-order comparison claim needs revisiting")
  }

  test("a17: the morton interleave round-trips planted bit patterns") {
    import spark.implicits._
    val morton = (0 until 8).map { i =>
      s"(shiftright(xq, $i) & 1) * ${1L << (2 * i)} + " +
        s"(shiftright(yq, $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")
    val pats = Seq((0, 0), (255, 255), (170, 85), (85, 170), (1, 128), (200, 3))
    val got = pats.toDF("xq", "yq").withColumn("z", expr(morton).cast("long"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    for ((x, y, z) <- got) {
      val xb = (0 until 8).map(i => ((z >> (2 * i)) & 1L) << i).sum
      val yb = (0 until 8).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
      assert(xb === x.toLong && yb === y.toLong,
        s"interleave not invertible at ($x, $y): z=$z → ($xb, $yb)")
    }
  }

  test("a18: clustered column reads exactly 1000 milli-shards, overlapping zones read more") {
    // two dense id-shards (0..63, 64..127): doc_id zones are disjoint
    // and cover the domain → Σwidth = domain → exactly 1000. n_chars
    // zones overlap ([10,20] and [15,30]): Σwidth 27 over domain 21 →
    // 27000 div 21 = 1285 — a probe expects to touch 1.28 shards
    val dir = scratch("a18-plant")
    import spark.implicits._
    val rows = (0L to 127L).map { i =>
      val nc = if (i < 64) 10L + i % 11 else 15L + i % 16
      (i, "t", "en", "s", nc)
    }
    GraftWriter.write(
      rows.toDF("doc_id", "text", "lang", "source", "n_chars"),
      s"$dir/documents.parquet")
    val got = graft.queries.Sources.queries("a18_zone_pruning")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === Seq(
      ("doc_id", 2L, 0L, 127L, 128L, 1000L),
      ("n_chars", 2L, 10L, 30L, 27L, 1285L)), s"got $got")
  }

  test("a18: the real corpus id layout prunes perfectly") {
    val got = graft.queries.Sources.queries("a18_zone_pruning")(spark, sfTiny).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    // driver testdata ids are dense 0..N-1 → disjoint full-cover zones
    assert(got("doc_id") === 1000L, s"got $got")
    assert(got("n_chars") > 1000L,
      "an unclustered column must read as unprunable")
  }
}
