package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.{NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Unified multi-format reader over any Hadoop FileSystem scheme —
  * the Spark-first re-expression of the reference's capability of
  * pointing DuckDB SQL at `hdfs://...` paths (reference docs/README.md:
  * `select * from 'hdfs://localhost:9000/path/to/file'`; glob handling
  * in /root/reference/src/hadoopfs.cpp `Glob`/`Match`).
  *
  * Spark's DataSource framework already routes every `scheme://` URI
  * through the Hadoop FileSystem API (hdfs, file, s3a, ...), performs
  * distributed listing, glob expansion (`*`, `?`, `[...]`, `{a,b}`) and
  * partition discovery — so this layer adds the *user surface* of the
  * reference (format inference, provenance column, listing relation)
  * rather than re-implementing IO.
  */
object GraftReader {

  /** Formats inferable from a file extension, as DuckDB does for
    * `FROM 'path/file.ext'`. */
  private val extFormats = Map(
    "parquet" -> "parquet", "pq" -> "parquet",
    "csv" -> "csv", "tsv" -> "csv",
    "json" -> "json", "jsonl" -> "json", "ndjson" -> "json",
    "orc" -> "orc",
    "txt" -> "text", "text" -> "text")

  def inferFormat(path: String): String = {
    val base = path.takeWhile(c => c != '?' && c != '#')
    val noGlob = base.replaceAll("[*?\\[\\]{}]", "")
    val ext = noGlob.reverse.takeWhile(_ != '.').reverse.toLowerCase
    extFormats.getOrElse(ext, "parquet")
  }

  /** `SELECT * FROM '<url>'` equivalent: infer format from the extension
    * and read (glob patterns pass straight through to Spark's listing). */
  def read(spark: SparkSession, url: String): DataFrame =
    read(spark, url, inferFormat(url))

  def read(spark: SparkSession, url: String, format: String, options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.options(options)
    format match {
      case "csv" =>
        val withHeader = if (options.contains("header")) r else r.option("header", "true")
        val inferred = if (options.contains("inferSchema")) withHeader else withHeader.option("inferSchema", "true")
        val delim = if (url.endsWith(".tsv") && !options.contains("sep")) inferred.option("sep", "\t") else inferred
        delim.csv(url)
      case "json" => r.json(url)
      case "orc" => r.orc(url)
      case "text" => r.text(url)
      case _ => parquet(spark, url, options)
    }
  }

  /** `spark.read.parquet(url)` without Spark's schema-inference job.
    * Spark infers a parquet schema by reading one footer inside a
    * one-task job (`mergeSchemasInParallel` runs even with mergeSchema
    * off). Here the driver reads that same footer itself (the
    * reference reads footers client-side too, hadoopfs.hpp:143-252) and
    * hands Spark the schema, so the read plans with no job; Spark still
    * lists the files and discovers partition columns.
    */
  def parquet(spark: SparkSession, url: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.options(options)
    footerSchema(spark, url, options).fold(r.parquet(url))(r.schema(_).parquet(url))
  }

  /** Options that change which files Spark lists or merges. */
  private val listingOptions =
    Set("mergeschema", "basepath", "pathglobfilter", "recursivefilelookup",
      "modifiedbefore", "modifiedafter")

  /** The data schema Spark's parquet inference gives `url`, from the
    * footer of the lexicographically first data file, the file
    * `ParquetUtils.inferSchema` reads. None wherever Spark's answer
    * could differ, so the caller lets Spark infer (and gets Spark's
    * schema or Spark's error): a glob, schema merging, listing options,
    * a summary or other `_` file, a data column that is also a
    * partition directory key, no data file, or any failure to list or
    * read.
    */
  private[graft] def footerSchema(spark: SparkSession, url: String,
      options: Map[String, String]): Option[StructType] =
    dataFiles(spark, url, options).flatMap { case (conf, files) =>
      try {
        val first = files.head
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(first, conf), SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(first.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        val root = new Path(url)
        val rootDir = root.getFileSystem(conf).makeQualified(root).toUri.getPath
        val partKeys = files.flatMap(f => partitionKeys(rootDir, f.getPath)).toSet
        if (schema.fieldNames.exists(n => partKeys(n.toLowerCase))) None else Some(schema)
      } catch { case NonFatal(_) => None }
    }

  /** Most footers [[rowCount]] reads for one answer. */
  private[graft] val MaxCountFooters = 64

  /** Rows of the parquet table at `url`, summed over the row groups in
    * its data files' footers, with no Spark job. Reading stops as soon
    * as the sum passes `upTo`: the answer is exact when it is at most
    * `upTo`, and otherwise only some count above `upTo`. At most
    * [[MaxCountFooters]] footers are read, so an exact count (the
    * default `upTo`) answers only for a listing of at most that many
    * files. None where the footers cannot answer: the cases where
    * [[footerSchema]] lets Spark list (a glob, schema merging, listing
    * options, a summary or other `_` file, no data file), a listing
    * past the footer bound before the sum passes `upTo`, or any
    * failure to list or read. Partition directories are counted like
    * any other data files: a row's partition values never change the
    * row count.
    */
  def rowCount(spark: SparkSession, url: String,
      upTo: Long = Long.MaxValue): Option[Long] =
    dataFiles(spark, url, Map.empty).flatMap { case (conf, files) =>
      if (upTo == Long.MaxValue && files.size > MaxCountFooters) None
      else try {
        var n = 0L
        val it = files.iterator.take(MaxCountFooters)
        while (n <= upTo && it.hasNext)
          n += ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(it.next(), conf),
            NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
        if (n > upTo || files.size <= MaxCountFooters) Some(n) else None
      } catch { case NonFatal(_) => None }
    }

  /** The data files under `url` as Spark would read them when no
    * footer-level check can differ from Spark's: None for a glob,
    * schema merging, listing options, a summary or other `_` file, no
    * data file, or any failure to list. */
  private def dataFiles(spark: SparkSession, url: String,
      options: Map[String, String]): Option[(Configuration, Seq[FileStatus])] =
    if (url.exists("{}[]*?\\".contains(_)) ||
        spark.sessionState.conf.isParquetSchemaMergingEnabled ||
        options.keys.exists(k => listingOptions(k.toLowerCase))) None
    else try {
      val conf = spark.sessionState.newHadoopConfWithOptions(options)
      val files = leafFiles(conf, url)
      if (files.isEmpty || files.exists(_.getPath.getName.startsWith("_"))) None
      else Some((conf, files))
    } catch { case NonFatal(_) => None }

  /** Lower-cased `k` of every `k=v` directory between `rootDir` and `file`. */
  private def partitionKeys(rootDir: String, file: Path): Seq[String] = {
    val rel = file.toUri.getPath.stripPrefix(rootDir).split('/').toSeq.dropRight(1)
    rel.filter(_.contains("=")).map(_.takeWhile(_ != '=').toLowerCase)
  }

  /** Names Spark's file index skips (`HadoopFSUtils
    * .shouldFilterOutPathName`): a leading `.`, a leading `_` unless the
    * name holds `=`, and in-flight `._COPYING_` files; the parquet
    * summary files are kept. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  /** Leaf files under `url` as Spark's file index lists them, on the
    * driver: recursive, hidden names (files and directories) skipped,
    * sorted by path. A file url lists as itself; a missing one throws
    * `FileNotFoundException`. */
  private[graft] def leafFiles(conf: Configuration, url: String): Seq[FileStatus] = {
    val root = new Path(url)
    val fs = root.getFileSystem(conf)
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filterNot(st => hidden(st.getPath.getName)).flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st)
      }
    walk(root).sortBy(_.getPath.toString)
  }

  /** Multi-path scan with schema union-by-name and a `_file` provenance
    * column (DuckDB's `filename` option on multi-file scans). */
  def readUnion(spark: SparkSession, urls: Seq[String], format: String): DataFrame =
    urls.map(u => read(spark, u, format).withColumn("_file", input_file_name()))
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))

  /** Listing relation: path/size/mtime rows for a directory or glob —
    * the reference's `ListFiles`/`GetFileSize`/`GetLastModifiedTime`
    * surface (hadoopfs.hpp:166-204) as a queryable DataFrame.
    * Listing happens driver-side through the FileSystem API (same as
    * Spark's own InMemoryFileIndex); for million-file directories
    * prefer a partitioned catalog — documented, not needed here.
    */
  def listFiles(spark: SparkSession, url: String): DataFrame = {
    import spark.implicits._
    val path = new Path(url)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = Option(fs.globStatus(path)) match {
      case Some(matches) if matches.nonEmpty =>
        matches.flatMap { st =>
          if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st)
        }.toSeq
      case _ => Seq.empty
    }
    statuses
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime, st.isDirectory))
      .toDF("path", "size", "mtime_ms", "is_dir")
  }

  /** FileExists / DirectoryExists (hadoopfs.hpp:190,206). */
  def exists(spark: SparkSession, url: String): Boolean = {
    val path = new Path(url)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }
}
