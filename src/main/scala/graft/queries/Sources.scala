package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.{GraftReader, GraftWriter, PathSyntax}

/** Source/storage A-block (SURVEY.md §2 A) as oracle-checkable queries.
  * Each entry exercises a capability of the reference's HadoopFileSystem
  * surface (scheme routing, glob, multi-file union, format inference,
  * csv/json, partition discovery, writers, listing) end-to-end and
  * returns a deterministic DataFrame the DuckDB oracle can reproduce
  * from the canonical tables — so the A-block is verified by the
  * official driver gate, not only by specs.
  *
  * Roundtrip entries (a4-a7) write under a scratch dir first; format
  * and layout are the point, the content comes from the sf tables.
  */
object Sources {

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Scratch area for write-roundtrip demos and streaming staging:
    * `GRAFT_SCRATCH_DIR` if set, else `graft-scratch` under the JVM's
    * temp directory. Staged inputs are reused only while their source
    * fingerprint matches, and entries clear or overwrite their outputs. */
  def scratchDir: String = sys.env.getOrElse("GRAFT_SCRATCH_DIR",
    new java.io.File(sys.props("java.io.tmpdir"), "graft-scratch").getAbsolutePath)

  /** a15's merge plan, shared with PlanAuditSpec so the audited plan IS
    * the production path: matched keys take the upsert row, unmatched
    * upserts insert, untouched base rows pass through. The upsert side
    * is explicitly broadcast — the merge batch is small relative to the
    * snapshot in every sane daily-merge pipeline, and shuffling the full
    * base to drop a fraction of keys is the classic merge mistake.
    */
  def upsertMerge(snapshot: DataFrame, upserts: DataFrame, key: String): DataFrame = {
    val cols = snapshot.columns.toSeq
    snapshot
      .join(broadcast(upserts.select(key)), Seq(key), "left_anti")
      .select(cols.map(col): _*)
      .unionByName(upserts.select(cols.map(col): _*))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- a1: explicit scheme routing — the reference's core trick is
    // `SELECT * FROM 'hdfs://...'`; here the same read goes through an
    // explicit `file:` URL so the Hadoop FileSystem routing (identical
    // for hdfs://) is exercised rather than implied.
    "a1_scheme_routing" -> { (s, dir) =>
      // a `file:` URI requires an absolute path (URI spec, and Hadoop
      // Path rejects `file:relative/...`) — absolutize so the entry
      // works for any sfDir spelling, not just the driver's absolute one
      val abs = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
      GraftReader.read(s, s"file:$abs/nation.parquet")
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"), col("n_name"))
        .orderBy("n_nationkey")
    },

    // ---- a2: glob expansion over files (reference Glob/Match,
    // hadoopfs.cpp) — pattern matches nation.parquet only.
    "a2_glob_read" -> { (s, dir) =>
      GraftReader.read(s, s"$dir/nat*.parquet")
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"), col("n_name"))
        .orderBy("n_nationkey")
    },

    // ---- a3: multi-file scan with union-by-name + per-row provenance
    // (`_file`, DuckDB's `filename` option analogue).
    "a3_multifile_union" -> { (s, dir) =>
      GraftReader.readUnion(s,
          Seq(s"$dir/nation.parquet", s"$dir/region.parquet"), "parquet")
        .select(
          regexp_extract(col("_file"), "[^/]+$", 0).as("src"),
          coalesce(col("n_nationkey"), col("r_regionkey")).cast("bigint").as("key"),
          coalesce(col("n_name"), col("r_name")).as("name"))
        .orderBy("src", "key")
    },

    // ---- a4: format inference by extension — write nation as
    // json-lines under a `.jsonl` path, read it back with NO explicit
    // format (GraftReader picks json from the extension, as DuckDB does
    // for `FROM 'file.ext'`).
    "a4_format_infer" -> { (s, dir) =>
      val url = s"$scratchDir/a4/nation.jsonl"
      GraftWriter.write(T(s, dir, "nation").select("n_nationkey", "n_name"), url)
      GraftReader.read(s, url)
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"), col("n_name"))
        .orderBy("n_nationkey")
    },

    // ---- a5: CSV (header + schema inference) and JSON-lines readers,
    // roundtripped and equi-joined — both rows must agree per key.
    "a5_csv_json" -> { (s, dir) =>
      val base = T(s, dir, "nation").select("n_nationkey", "n_name")
      GraftWriter.write(base, s"$scratchDir/a5/nation.csv")
      GraftWriter.write(base, s"$scratchDir/a5/nation.json")
      val c = GraftReader.read(s, s"$scratchDir/a5/nation.csv")
        .select(col("n_nationkey").cast("bigint").as("k"), col("n_name").as("name_csv"))
      val j = GraftReader.read(s, s"$scratchDir/a5/nation.json")
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"), col("n_name").as("name_json"))
      j.join(c, col("n_nationkey") === col("k"))
        .select("n_nationkey", "name_csv", "name_json")
        .orderBy("n_nationkey")
    },

    // ---- a6: hive-style partition discovery + pruning — orders written
    // partitionBy(o_orderstatus); the filtered re-read scans only the
    // o_orderstatus=F directory (pruned InputFiles spec-checked in
    // SourcesSpec; at 100 TB this is the difference between scanning one
    // partition and the whole table).
    "a6_partition_discovery" -> { (s, dir) =>
      val url = s"$scratchDir/a6/orders_by_status"
      // repartition on the partition column first: without it every task
      // writes a file per status (tasks × partitions small files)
      GraftWriter.write(
        T(s, dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderstatus")
          .repartition(col("o_orderstatus")),
        url, format = Some("parquet"), partitionBy = Seq("o_orderstatus"))
      GraftReader.read(s, url, "parquet")
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("o_orderpriority")
    },

    // ---- a7: writer roundtrip (Write, hadoopfs.hpp:158): parquet out,
    // parquet back, content-identical. Dir/file mutations
    // (CreateDirectory/MoveFile/RemoveFile) are spec-verified.
    "a7_writers" -> { (s, dir) =>
      val url = s"$scratchDir/a7/cust.parquet"
      GraftWriter.write(
        T(s, dir, "customer").filter(col("c_custkey") <= 100)
          .select("c_custkey", "c_name", "c_acctbal"),
        url)
      GraftReader.read(s, url).orderBy("c_custkey")
    },

    // ---- a10: ORC writer/reader roundtrip — the columnar-format twin
    // of a7's parquet path, through the same extension-inferred
    // format routing (reference scope: whatever DuckDB reads over
    // hdfs://, Spark reads natively — ORC included).
    "a10_orc_roundtrip" -> { (s, dir) =>
      val url = s"$scratchDir/a10/nation.orc"
      GraftWriter.write(T(s, dir, "nation").select("n_nationkey", "n_name"), url)
      GraftReader.read(s, url)
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"), col("n_name"))
        .orderBy("n_nationkey")
    },

    // ---- a9: schema evolution on read — an ingest landing zone where
    // newer files carry added columns. Two generations are written with
    // different schemas; mergeSchema stitches the union schema and
    // back-fills the missing column with NULL (the standard Spark answer
    // to schema drift — at 100 TB this is how a years-old directory with
    // evolving producers stays queryable as ONE table).
    "a9_schema_evolution" -> { (s, dir) =>
      val base = T(s, dir, "documents")
      val gen1 = s"$scratchDir/a9/gen=1"
      val gen2 = s"$scratchDir/a9/gen=2"
      GraftWriter.write(
        base.filter(pmod(col("doc_id"), lit(2)) === 0).select("doc_id", "lang"),
        gen1, format = Some("parquet"))
      GraftWriter.write(
        base.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select("doc_id", "lang", "n_chars"),
        gen2, format = Some("parquet"))
      GraftReader.read(s, s"$scratchDir/a9", "parquet",
          Map("mergeSchema" -> "true", "recursiveFileLookup" -> "true"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    // ---- a8: listing/metadata relation (ListFiles/GetFileSize/
    // GetLastModifiedTime, hadoopfs.hpp:166-204): the file names are
    // deterministic (sizes/mtimes are environment data, validated as
    // positive, then projected away).
    "a8_file_metadata" -> { (s, dir) =>
      GraftReader.listFiles(s, s"$dir/*.parquet")
        .filter(col("size") > 0 && !col("is_dir"))
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("fname"))
        .orderBy("fname")
    },

    // ---- e4: the SOURCE tier of the extension mechanism — a full
    // DataSourceV2 connector (sources/FileListSource: TableProvider →
    // Table → ScanBuilder → Batch → PartitionReader) exposing the
    // reference's Glob/ListFiles/GetFileSize directory surface as a
    // first-class TABLE. Both scale contracts are real, not decorative:
    // the name/size predicates below are ACCEPTED by pushFilters and
    // evaluated inside the listing (files pruned before partitions are
    // planned), and column pruning means only `name` is materialized.
    // SourcesSpec asserts both on the physical plan.
    "e4_dsv2_listing" -> { (s, dir) =>
      s.read.format("graft.sources.FileListSource").load(s"$dir/*.parquet")
        .filter(col("name").endsWith(".parquet") && col("size") > 0)
        .select(col("name").as("fname"))
        .orderBy("fname")
    },

    // ---- a14: dynamic partition overwrite — the lakehouse "patch one
    // day, leave the rest" write: with partitionOverwriteMode=dynamic an
    // overwrite replaces ONLY the partitions present in the incoming
    // frame. Here the F partition is rewritten with discounted prices;
    // O and P must survive untouched (static mode — Spark's default —
    // would have deleted them, the classic footgun). Runs in a child
    // session so the mode never leaks into other entries' writers.
    "a14_partition_overwrite" -> { (s, dir) =>
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val url = s"$scratchDir/a14/orders_by_status"
      GraftWriter.removeDirectory(s2, url)
      val base = Tables.load(s2, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      GraftWriter.write(base.repartition(col("o_orderstatus")), url,
        format = Some("parquet"), partitionBy = Seq("o_orderstatus"))
      val patch = base.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") * 0.5)
      GraftWriter.write(patch.repartition(col("o_orderstatus")), url,
        format = Some("parquet"), partitionBy = Seq("o_orderstatus"))
      GraftReader.read(s2, url, "parquet")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("o_orderstatus")
    },

    // ---- e5: parquet AGGREGATE pushdown — count/min/max answered from
    // parquet footer statistics instead of scanning row data, the
    // difference between touching 100 TB and touching its metadata.
    // Needs the V2 parquet source, so the entry runs in a child session
    // (newSession: shared context, isolated conf — nothing leaks into
    // later queries, the s5/d20 advisor rule). PlanAuditSpec asserts
    // PushedAggregation on the scan node.
    "e5_agg_pushdown" -> { (s, dir) =>
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      s2.read.parquet(s"$dir/lineitem.parquet")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_okey"),
          max(col("l_orderkey")).as("max_okey"),
          round(min(col("l_quantity")), 2).as("min_qty"),
          round(max(col("l_quantity")), 2).as("max_qty"))
    },

    // ---- e6: the PARSER tier of the extension mechanism — the
    // reference's exact headline syntax, `SELECT * FROM
    // 'hdfs://host/path/file'`, runs as Spark SQL. Session-build
    // injection (PathSyntaxParser via GraftExtensions) is spec-verified
    // in ExtensionsSpec; this entry exercises the same rewrite through
    // PathSyntax.sql since the driver's session carries no extensions
    // conf. A self-join of two path-literal tables proves table refs
    // resolve in both FROM and JOIN position.
    "e6_path_syntax" -> { (s, dir) =>
      PathSyntax.sql(s, s"""
        SELECT CAST(n.n_nationkey AS BIGINT) AS n_nationkey, n.n_name,
               r.r_name AS region
        FROM '$dir/nation.parquet' n
        JOIN '$dir/region.parquet' r ON n.n_regionkey = r.r_regionkey
        ORDER BY n_nationkey""")
    },

    // ---- a15: upsert / MERGE on plain parquet — DuckDB's
    // `INSERT ... ON CONFLICT DO UPDATE` storage surface, as the
    // join-based merge every parquet lakehouse runs under the hood:
    // matched keys take the update row, unmatched update rows insert,
    // untouched base rows pass through — expressed as ONE anti-join +
    // union plan, written to a fresh snapshot dir and re-read (atomic
    // swap is a rename; a14's dynamic partition overwrite is the
    // partition-pruned variant that avoids rewriting untouched
    // partitions at 100 TB). The anti-join shuffles on the merge key —
    // broadcast when the upsert batch is small, which it is here and
    // in most daily-merge pipelines.
    "a15_upsert_merge" -> { (s, dir) =>
      val base = s"$scratchDir/a15_${Integer.toHexString(dir.hashCode)}"
      val orders = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
      GraftWriter.removeDirectory(s, base)
      orders.write.parquet(s"$base/t")
      val snapshot = s.read.parquet(s"$base/t")
      // the day's merge batch: price corrections on every 100th order,
      // plus brand-new orders derived from every 500th. The corrected
      // price is computed in integer CENTS (cents*11 div 10) — a
      // cross-engine round(p*1.1, 2) on doubles diverges at half-cent
      // boundaries (measured: 89 of 150k sf0.1 prices split between
      // Spark's BigDecimal HALF_UP and DuckDB's std::round). Insert
      // keys are derived PAST max(o_orderkey) so they can never collide
      // with a live base key at any scale factor.
      val updates = orders.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice",
          expr("(cast(round(o_totalprice * 100) as bigint) * 11 div 10) / 100.0"))
      val maxKey = snapshot.agg(max(col("o_orderkey")).as("graft_max_key"))
      val inserts = orders.filter(col("o_orderkey") % 500 === 0)
        .crossJoin(broadcast(maxKey))
        .withColumn("o_orderkey", col("o_orderkey") + col("graft_max_key") + lit(1L))
        .drop("graft_max_key")
        .withColumn("o_orderstatus", lit("N"))
      val merged = upsertMerge(snapshot, updates.unionByName(inserts), "o_orderkey")
      merged.write.parquet(s"$base/t_next") // next snapshot; swap = rename
      s.read.parquet(s"$base/t_next")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("total_cents"))
        .orderBy("o_orderstatus")
    },

    // ---- e7: declarative function extension — DuckDB's CREATE MACRO
    // surface, the user-side complement of the reference's compiled
    // extension tier (hadoopfs_extension.cpp:9-19 registers its
    // capability at load time; a DuckDB user extends the same session
    // with CREATE MACRO, no C++ required).
    // Spark 4's SQL scalar UDF (CREATE TEMPORARY FUNCTION ... RETURNS
    // ... RETURN <expr>) is the engine-native twin: the body is
    // inlined into the Catalyst plan at analysis time — codegen,
    // pushdown and vectorization all see through it, unlike a black-box
    // lambda UDF. Declared in a child session so the temp function
    // cannot leak into other entries' catalogs.
    "e7_sql_macro" -> { (s, dir) =>
      val s2 = s.newSession()
      s2.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)
        RETURNS DOUBLE RETURN p * (1.0 - d)""")
      graft.Tables.load(s2, dir, "lineitem").createOrReplaceTempView("graft_e7_li")
      s2.sql("""
        SELECT l_linestatus,
               round(sum(disc_price(l_extendedprice, l_discount)), 2) AS revenue,
               count(*) AS n
        FROM graft_e7_li
        GROUP BY l_linestatus
        ORDER BY l_linestatus""")
    },

    // ---- e8: TABLE macro — DuckDB's `CREATE MACRO ... AS TABLE`
    // (parameterized view) as Spark 4's SQL table function (CREATE
    // TEMPORARY FUNCTION ... RETURNS TABLE ... RETURN SELECT). Like e7
    // the body dissolves into the Catalyst plan at analysis time, so a
    // `FROM big_spenders(100000)` call is a plain pushdown-friendly
    // subquery, not a materialized staging step. Child session: the
    // temp function and view stay out of other entries' catalogs.
    "e8_table_macro" -> { (s, dir) =>
      val s2 = s.newSession()
      graft.Tables.load(s2, dir, "orders").createOrReplaceTempView("graft_e8_orders")
      s2.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION big_spenders(minTotal DOUBLE)
        RETURNS TABLE (o_custkey BIGINT, n BIGINT, total DOUBLE)
        RETURN SELECT o_custkey, count(*) AS n,
                      round(sum(o_totalprice), 2) AS total
               FROM graft_e8_orders
               WHERE o_totalprice > minTotal
               GROUP BY o_custkey""")
      s2.sql("""
        SELECT * FROM big_spenders(400000.0)
        ORDER BY o_custkey""")
    },

    // ---- a12: bucketed tables — the write-side lever that deletes the
    // join shuffle outright: both fact tables land bucketBy(8, orderkey)
    // + sortBy, so the orders⋈lineitem join plans with ZERO exchanges
    // and zero sorts on the join key (PlanAuditSpec asserts it). At
    // 100 TB this is THE co-located join strategy: pay one bucketed
    // write, then every subsequent join/groupBy on the bucket key is
    // shuffle-free. The only exchanges left are the post-join aggregate
    // and the output ordering.
    "a12_bucketed_join" -> { (s, dir) =>
      // a fresh session's in-memory catalog does not know about table
      // directories left by PREVIOUS sessions — drop both the catalog
      // entry and the physical location, or CREATE fails location
      // validation
      val wh = s.conf.get("spark.sql.warehouse.dir")
      Seq("graft_b_orders", "graft_b_lineitem").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        GraftWriter.removeDirectory(s, s"$wh/$t")
      }
      T(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("graft_b_orders")
      T(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("graft_b_lineitem")
      s.table("graft_b_orders")
        .join(s.table("graft_b_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        // integer cents BEFORE the sum (the repo-wide money rule): a
        // raw double sum rounded at 2dp diverges from DuckDB in the
        // last cent once the aggregate passes ~1e10 (seen at the sf1
        // stress sweep); per-value cents make the sum order-free exact
        .agg(count(lit(1)).as("n_items"),
          sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
            .as("total_cents"))
        .orderBy("o_orderpriority")
    },

    // ---- a11: small-file compaction — the FS maintenance op every
    // long-lived HDFS/parquet landing zone needs: a directory of tiny
    // files (here: the corpus deliberately landed as 64 shards) is
    // rewritten into ceil(rows / targetRowsPerFile) right-sized files.
    // repartition(n), not coalesce(n): coalesce(1) would collapse the
    // READ side into one task too; repartition keeps the scan parallel
    // and only the write lands n files. At 100 TB the same plan runs
    // per-partition-directory with targetRowsPerFile derived from the
    // desired file size. The oracle checks exact row preservation
    // (counts + integer checksums per lang) against the source table;
    // the file-count reduction itself is spec-asserted (SourcesSpec).
    "a11_compaction" -> { (s, dir) =>
      val small = s"$scratchDir/a11/small"
      val compacted = s"$scratchDir/a11/compacted"
      GraftWriter.write(T(s, dir, "documents").repartition(64), small,
        format = Some("parquet"))
      val in = GraftReader.read(s, small, "parquet")
      val targetRowsPerFile = 100000L
      val n = math.max(1L, (in.count() + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      GraftWriter.write(in.repartition(n), compacted, format = Some("parquet"))
      GraftReader.read(s, compacted, "parquet")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("doc_id")).as("n_ids"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_total"))
        .orderBy("lang")
    },

    // ---- a13: compressed-codec roundtrips — HDFS data lakes are
    // gzip/zstd-heavy, and the reference reads whatever DuckDB's
    // readers decompress (csv.gz transparently; parquet codecs
    // internally). Spark twin: a gzip CSV write/read (codec via the
    // `compression` option, transparently decompressed on re-read) and
    // a zstd-parquet write/read, equi-joined per key so BOTH
    // decompression paths must agree with the canonical table.
    "a13_compressed_read" -> { (s, dir) =>
      val base = T(s, dir, "nation").select("n_nationkey", "n_name")
      val gz = s"$scratchDir/a13/nation_csv_gz"
      val zs = s"$scratchDir/a13/nation_zstd.parquet"
      GraftWriter.write(base, gz, format = Some("csv"),
        options = Map("compression" -> "gzip", "header" -> "true"))
      GraftWriter.write(base, zs, options = Map("compression" -> "zstd"))
      val c = GraftReader.read(s, gz, "csv")
        .select(col("n_nationkey").cast("bigint").as("k"),
          col("n_name").as("name_gzip"))
      val p = GraftReader.read(s, zs, "parquet")
        .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
          col("n_name").as("name_zstd"))
      p.join(c, col("n_nationkey") === col("k"))
        .select("n_nationkey", "name_gzip", "name_zstd")
        .orderBy("n_nationkey")
    },

    // ---- a16: MANIFEST VALIDATION AFTER COPY — the other half of
    // d78's shard-integrity manifest (publishing a manifest is only
    // useful if the receiving end re-derives and DIFFS it after every
    // transfer/compaction/engine migration): the documents table is
    // copied through a real write/read roundtrip, BOTH sides reduce to
    // the d78 per-shard manifest (count, byte total, order-free
    // bit_xor content checksum), and a FULL OUTER diff classifies each
    // shard ok / mismatch / missing_at_dest / extra_at_dest (the d74
    // CDC shape at shard granularity). Because the xor fold is
    // commutative and shard-local, validation never compares rows —
    // two manifest scans and a shard-count-sized join, which is what
    // makes it runnable after every 100 TB copy. The corruption and
    // loss classes are spec-exercised via the shared [[manifestDiff]]
    // on planted bad copies; the oracle checks the honest-copy
    // contract (every shard ok, manifest values exact).
    "a16_manifest_validate" -> { (s, dir) =>
      val copyDir = s"$scratchDir/a16/documents_copy"
      GraftWriter.write(T(s, dir, "documents"), copyDir, format = Some("parquet"))
      manifestDiff(T(s, dir, "documents"),
        GraftReader.read(s, copyDir, "parquet"))
    },

    // ---- a17: Z-ORDER LAYOUT — the multi-dimensional clustering
    // write (Morton interleave) that makes min/max row-group pruning
    // work on TWO predicate columns at once: a 1-D sort bounds one
    // column per file and leaves the other spanning the full domain;
    // interleaving the quantized bits bounds BOTH (a z-bucket that
    // fixes the top 3 interleaved bit-pairs confines each dimension
    // to a 1/8 band — the structural ≤31-of-256 span the spec pins).
    // The entry quantizes (l_orderkey, l_partkey) to 8 bits each
    // (maxes broadcast as a one-row frame), interleaves to a 16-bit
    // z, WRITES lineitem z-sorted through the production writer,
    // reads it back, and reports per-z-bucket (count, min/max/span of
    // both dims) — so the oracle's recomputation from the canonical
    // table also certifies the write/read roundtrip. The write IS the
    // 100 TB plan: repartitionByRange(z) + sortWithinPartitions — a
    // distributed range sort producing many z-disjoint files (the
    // layout job every lakehouse runs before handing a table to
    // selective scans), never a single-task global sort.
    "a17_zorder" -> { (s, dir) =>
      val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val mx = li.agg(max("l_orderkey").as("mo"), max("l_partkey").as("mp"))
      val morton = (0 until 8).map { i =>
        s"(shiftright(xq, $i) & 1) * ${1L << (2 * i)} + " +
          s"(shiftright(yq, $i) & 1) * ${1L << (2 * i + 1)}"
      }.mkString(" + ")
      val z = li.crossJoin(broadcast(mx))
        .withColumn("xq", expr(
          "cast(cast(l_orderkey as bigint) * 256 div (mo + 1) as int)"))
        .withColumn("yq", expr(
          "cast(cast(l_partkey as bigint) * 256 div (mp + 1) as int)"))
        .withColumn("z", expr(morton))
        .select("xq", "yq", "z")
      val out = s"$scratchDir/a17/lineitem_z"
      // the layout SURVEY documents and the one a 100 TB table needs:
      // RANGE-partition on z then sort within each partition — globally
      // z-clustered output across MANY files (range boundaries make
      // files disjoint in z, so zone maps prune), instead of the old
      // repartition(1) single-file global sort that serializes the
      // whole table through one task. The zb-bucket audit below is
      // layout-independent, so the oracle is unchanged.
      GraftWriter.write(
        z.repartitionByRange(8, col("z")).sortWithinPartitions("z"), out,
        format = Some("parquet"))
      GraftReader.read(s, out, "parquet")
        .withColumn("zb", expr("cast(z div 1024 as bigint)"))
        .groupBy("zb").agg(count(lit(1)).as("n"),
          min("xq").as("x_min"), max("xq").as("x_max"),
          min("yq").as("y_min"), max("yq").as("y_max"))
        .select(col("zb"), col("n"), col("x_min"), col("x_max"),
          (col("x_max") - col("x_min")).as("x_span"),
          col("y_min"), col("y_max"),
          (col("y_max") - col("y_min")).as("y_span"))
        .orderBy("zb")
    },

    // ---- a18: ZONE-MAP PRUNING AUDIT — the number a17's layout work
    // exists to move: per zone column, the expected number of shards a
    // uniform point-probe's min/max pruning CANNOT skip, in exact
    // per-mille (Σ shard zone widths ·1000 div domain width — 1000 ≈
    // "reads one shard", n_shards·1000 ≈ "zone maps prune nothing").
    // Audited on the d78 shard convention (doc_id div 64) for the two
    // probe columns that matter on documents: doc_id (clustered by
    // construction — the layout's sort key) vs n_chars (unclustered —
    // the a17 z-order motivation). Shape for 100 TB: ONE map-combinable
    // manifest aggregate (per-shard min/max of both columns), persisted;
    // each zone row is a global aggregate of that shard-dim frame.
    // Integer-exact: shard id-widths are ≤64 by the div-64 convention,
    // so Σwidth·1000 stays far inside int64.
    "a18_zone_pruning" -> { (s, dir) =>
      val man = T(s, dir, "documents")
        .select(expr("doc_id div 64").as("shard"), col("doc_id"),
          col("n_chars"))
        .groupBy("shard").agg(
          min("doc_id").as("id_lo"), max("doc_id").as("id_hi"),
          min("n_chars").as("nc_lo"), max("n_chars").as("nc_hi"))
        .persist() // both zone rows aggregate the same manifest
      def zoneRow(name: String, lo: String, hi: String) =
        man.agg(count(lit(1)).as("n_shards"),
            min(lo).as("lo"), max(hi).as("hi"),
            sum(expr(s"$hi - $lo + 1")).as("sum_width"))
          .filter(col("n_shards") > 0)
          .select(lit(name).as("zone_col"), col("n_shards"), col("lo"),
            col("hi"), col("sum_width"),
            expr("cast((sum_width * 1000) div (hi - lo + 1) as bigint)")
              .as("exp_shards_milli"))
      zoneRow("doc_id", "id_lo", "id_hi")
        .unionAll(zoneRow("n_chars", "nc_lo", "nc_hi"))
        .orderBy("zone_col")
    }
  )

  /** a16's shard-manifest diff (d78's manifest on both sides + a full
    * outer CDC classification), shared with SourcesSpec so the planted
    * corruption/loss cases exercise the production path. */
  private[graft] def manifestDiff(src: DataFrame, dst: DataFrame): DataFrame = {
    def manifest(df: DataFrame): DataFrame =
      df.select(expr("doc_id div 64").as("shard"),
          length(encode(col("text"), "UTF-8")).cast("long").as("nb"),
          expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)")
            .as("h32"))
        .groupBy("shard").agg(
          count(lit(1)).as("n_docs"),
          sum("nb").as("bytes_total"),
          expr("bit_xor(h32)").as("content_xor"))
    val a = manifest(src)
    val b = manifest(dst).select(col("shard"), col("n_docs").as("d_docs"),
      col("bytes_total").as("d_bytes"), col("content_xor").as("d_xor"))
    a.join(b, Seq("shard"), "full_outer")
      .withColumn("status",
        when(col("d_docs").isNull, "missing_at_dest")
          .when(col("n_docs").isNull, "extra_at_dest")
          .when(col("n_docs") === col("d_docs") &&
            col("bytes_total") === col("d_bytes") &&
            col("content_xor") === col("d_xor"), "ok")
          .otherwise("mismatch"))
      .select(col("shard"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("bytes_total"), lit(0L)).as("bytes_total"),
        coalesce(col("content_xor"), lit(0L)).as("content_xor"),
        col("status"))
      .orderBy("shard")
  }

  private val nationOracle = """
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
      FROM nation
      ORDER BY n_nationkey"""

  val oracles: Map[String, String] = Map(
    "a12_bucketed_join" -> """
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    "a11_compaction" -> """
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
             CAST(sum(doc_id) AS BIGINT) AS id_sum,
             CAST(sum(n_chars) AS BIGINT) AS chars_total
      FROM documents
      GROUP BY lang
      ORDER BY lang""",
    "a1_scheme_routing" -> nationOracle,
    "a2_glob_read" -> nationOracle,
    "a3_multifile_union" -> """
      SELECT * FROM (
        SELECT 'nation.parquet' AS src, CAST(n_nationkey AS BIGINT) AS key, n_name AS name FROM nation
        UNION ALL
        SELECT 'region.parquet' AS src, CAST(r_regionkey AS BIGINT) AS key, r_name AS name FROM region)
      ORDER BY src, key""",
    "a4_format_infer" -> nationOracle,
    "a5_csv_json" -> """
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
             n_name AS name_csv, n_name AS name_json
      FROM nation
      ORDER BY n_nationkey""",
    "a6_partition_discovery" -> """
      SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders
      WHERE o_orderstatus = 'F'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
    "a7_writers" -> """
      SELECT c_custkey, c_name, c_acctbal
      FROM customer
      WHERE c_custkey <= 100
      ORDER BY c_custkey""",
    "a10_orc_roundtrip" -> nationOracle,

    "a13_compressed_read" -> """
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
             n_name AS name_gzip, n_name AS name_zstd
      FROM nation
      ORDER BY n_nationkey""",

    "a9_schema_evolution" -> """
      SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, lang, n_chars
      FROM documents WHERE doc_id % 2 = 1
      ORDER BY doc_id""",

    "a8_file_metadata" -> """
      SELECT * FROM (VALUES ('customer.parquet'), ('documents.parquet'),
        ('embeddings.parquet'), ('events.parquet'), ('lineitem.parquet'),
        ('nation.parquet'), ('orders.parquet'), ('part.parquet'),
        ('region.parquet'), ('supplier.parquet')) t(fname)
      ORDER BY fname""",

    "a14_partition_overwrite" -> """
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             round(sum(CASE WHEN o_orderstatus = 'F'
                            THEN o_totalprice * 0.5
                            ELSE o_totalprice END), 2) AS total
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",

    "e6_path_syntax" -> """
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
             r_name AS region
      FROM nation JOIN region ON n_regionkey = r_regionkey
      ORDER BY n_nationkey""",

    // the merge's semantics spelled inline over the source table: base
    // rows minus matched keys, plus updates, plus inserts
    "a15_upsert_merge" -> """
      WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               round(o_totalprice, 2) AS o_totalprice
        FROM orders),
      upd AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               ((CAST(round(round(o_totalprice, 2) * 100) AS BIGINT) * 11) // 10)
                 / 100.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 100 = 0),
      ins AS (
        SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders) AS o_orderkey,
               o_custkey, 'N' AS o_orderstatus,
               round(o_totalprice, 2) AS o_totalprice
        FROM orders WHERE o_orderkey % 500 = 0),
      merged AS (
        SELECT * FROM base WHERE o_orderkey % 100 <> 0
        UNION ALL SELECT * FROM upd
        UNION ALL SELECT * FROM ins)
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM merged
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",

    // the table macro's semantics spelled inline (same convention as e7)
    "e8_table_macro" -> """
      SELECT o_custkey, count(*) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM orders
      WHERE o_totalprice > 400000.0
      GROUP BY o_custkey
      ORDER BY o_custkey""",

    // the macro's semantics spelled inline (q29's convention for
    // function-extension entries: the oracle checks the VALUES the
    // extension computes, not the registration mechanism)
    "e7_sql_macro" -> """
      SELECT l_linestatus,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             count(*) AS n
      FROM lineitem
      GROUP BY l_linestatus
      ORDER BY l_linestatus""",

    "e5_agg_pushdown" -> """
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(min(l_orderkey) AS BIGINT) AS min_okey,
             CAST(max(l_orderkey) AS BIGINT) AS max_okey,
             round(min(l_quantity), 2) AS min_qty,
             round(max(l_quantity), 2) AS max_qty
      FROM lineitem""",

    "e4_dsv2_listing" -> """
      SELECT * FROM (VALUES ('customer.parquet'), ('documents.parquet'),
        ('embeddings.parquet'), ('events.parquet'), ('lineitem.parquet'),
        ('nation.parquet'), ('orders.parquet'), ('part.parquet'),
        ('region.parquet'), ('supplier.parquet')) t(fname)
      ORDER BY fname""",

    // a16: the copy inside the query is faithful by construction, so
    // the contract is "d78's manifest, every shard ok" — the manifest
    // values are exact (same d78 spelling), and any unfaithful
    // write/read roundtrip in the Spark stack flips a status.
    "a16_manifest_validate" -> """
      WITH h AS (
        SELECT doc_id // 64 AS shard,
               CAST(octet_length(encode(text)) AS BIGINT) AS nb,
               list_reduce(list_prepend(0::BIGINT,
                 list_transform(range(8),
                   i -> CAST(strpos('123456789abcdef',
                          substr(md5(text), CAST(i + 1 AS INTEGER), 1))
                        AS BIGINT))),
                 (a, d) -> a * 16 + d) AS h32
        FROM documents)
      SELECT CAST(shard AS BIGINT) AS shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nb) AS BIGINT) AS bytes_total,
             CAST(bit_xor(h32) AS BIGINT) AS content_xor,
             'ok' AS status
      FROM h GROUP BY shard ORDER BY shard""",

    // a17: recompute quantization + Morton interleave from the
    // canonical table — equality also certifies the z-sorted
    // write/read roundtrip the Spark side performs.
    "a17_zorder" -> s"""
      WITH m AS (SELECT max(l_orderkey) AS mo, max(l_partkey) AS mp
                 FROM lineitem),
      q AS (SELECT
              CAST(CAST(l_orderkey AS BIGINT) * 256 // (mo + 1) AS INT) AS xq,
              CAST(CAST(l_partkey AS BIGINT) * 256 // (mp + 1) AS INT) AS yq
            FROM lineitem CROSS JOIN m),
      z AS (SELECT xq, yq,
              ${(0 until 8).map { i =>
                s"((xq >> $i) & 1) * ${1L << (2 * i)} + " +
                  s"((yq >> $i) & 1) * ${1L << (2 * i + 1)}"
              }.mkString(" + ")} AS z
            FROM q),
      b AS (SELECT CAST(z // 1024 AS BIGINT) AS zb,
                   CAST(count(*) AS BIGINT) AS n,
                   min(xq) AS x_min, max(xq) AS x_max,
                   min(yq) AS y_min, max(yq) AS y_max
            FROM z GROUP BY 1)
      SELECT zb, n, x_min, x_max, x_max - x_min AS x_span,
             y_min, y_max, y_max - y_min AS y_span
      FROM b ORDER BY zb""",

    // a18: same div-64 shard convention, same integer widths.
    "a18_zone_pruning" -> """
      WITH man AS (
        SELECT doc_id // 64 AS shard,
               CAST(min(doc_id) AS BIGINT) AS id_lo,
               CAST(max(doc_id) AS BIGINT) AS id_hi,
               CAST(min(n_chars) AS BIGINT) AS nc_lo,
               CAST(max(n_chars) AS BIGINT) AS nc_hi
        FROM documents GROUP BY 1),
      a AS (
        SELECT 'doc_id' AS zone_col, CAST(count(*) AS BIGINT) AS n_shards,
               CAST(min(id_lo) AS BIGINT) AS lo, CAST(max(id_hi) AS BIGINT) AS hi,
               CAST(sum(id_hi - id_lo + 1) AS BIGINT) AS sum_width
        FROM man),
      b AS (
        SELECT 'n_chars' AS zone_col, CAST(count(*) AS BIGINT) AS n_shards,
               CAST(min(nc_lo) AS BIGINT) AS lo, CAST(max(nc_hi) AS BIGINT) AS hi,
               CAST(sum(nc_hi - nc_lo + 1) AS BIGINT) AS sum_width
        FROM man),
      u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
      SELECT zone_col, n_shards, lo, hi, sum_width,
             CAST((sum_width * 1000) // (hi - lo + 1) AS BIGINT)
               AS exp_shards_milli
      FROM u WHERE n_shards > 0 ORDER BY zone_col"""
  )
}
