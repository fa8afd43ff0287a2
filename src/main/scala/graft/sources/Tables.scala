package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table loaders for the test corpus layout (`<sfDir>/<name>.parquet`)
  * plus generic readers. Parquet is the primary source — columnar,
  * splittable, predicate-pushdown-capable — matching how the reference
  * ingests Arrow-backed columnar data (reference: R/tbl-gpu.R,
  * src/transfer_io.cpp).
  */
object Tables {
  val tpchTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val allTables: Seq[String] = tpchTables ++ Seq("events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Parquet reader that infers a path's schema once. A schema-less
    * `spark.read.parquet` runs a Spark job to read footers on EVERY
    * call, which dominates the latency of a short query on small
    * tables; here the first read infers, and later reads pass the remembered
    * `StructType` to `spark.read.schema(...)`, which starts no job.
    * Every call still builds a fresh relation (fresh attribute ids)
    * and lists and reads the files exactly as the inferring read does.
    *
    * The memo never serves a stale schema. Its key is the path plus
    * the session's Parquet conf (`spark.sql.parquet.*`,
    * `spark.sql.legacy.parquet.*`, `spark.sql.caseSensitive`), and each
    * entry carries a validity stamp rechecked on every call: a file's
    * (length, mtime, file key); a directory's sorted (name, length,
    * mtime, file key) of its direct children. A directory with any
    * subdirectory (a partitioned layout, an in-progress `_temporary`)
    * and a path that cannot be stat'ed (a glob, a non-local scheme)
    * are never memoized: they take the plain inferring read. The memo
    * holds only schemas, for the 256 most recent keys. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    parquetStamp(path) match {
      case None => spark.read.parquet(path)
      case Some(stamp) =>
        val key = (path, parquetConf(spark))
        schemaMemo.synchronized(Option(schemaMemo.get(key)))
          .collect { case (`stamp`, schema) => schema } match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            // a write racing the inference leaves a schema that may
            // belong to either version: remember it only if the stamp
            // did not move meanwhile
            if (parquetStamp(path).contains(stamp))
              schemaMemo.synchronized(schemaMemo.put(key, (stamp, df.schema)))
            df
        }
    }

  private type Stamp = Seq[(String, Long, Long, AnyRef)]

  private val schemaMemo =
    new java.util.LinkedHashMap[(String, Map[String, String]), (Stamp, StructType)](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Map[String, String]), (Stamp, StructType)]
      ): Boolean = size() > 256
    }

  private def parquetConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }

  /** Validity stamp of a local parquet path, or None when the path
    * must not be memoized (see [[parquet]]). */
  private def parquetStamp(path: String): Option[Stamp] = {
    def attrs(p: Path) = Files.readAttributes(p, classOf[BasicFileAttributes])
    def entry(name: String, a: BasicFileAttributes) =
      (name, a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS), a.fileKey)
    if (path.contains("://") && !path.startsWith("file:")) None
    else try {
      val p = Paths.get(path.stripPrefix("file:"))
      val a = attrs(p)
      if (a.isRegularFile) Some(Seq(entry("", a)))
      else if (a.isDirectory) {
        val listing = Files.list(p)
        val children =
          try listing.iterator.asScala.map(c => (c.getFileName.toString, attrs(c))).toList
          finally listing.close()
        if (children.exists(_._2.isDirectory)) None
        else Some(children.map { case (n, ca) => entry(n, ca) }.sortBy(_._1))
      } else None
    } catch {
      case _: java.io.IOException | _: java.nio.file.InvalidPathException => None
    }
  }

  /** Register every table as a temp view for `spark.sql` use. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    allTables.foreach(t => load(spark, sfDir, t).createOrReplaceTempView(t))

  /** Write a table bucketed+sorted by join key. Two tables bucketed the
    * same way on their join keys co-locate: Spark plans their join with
    * NO exchange on either side (sort-merge over pre-bucketed files) —
    * at 100 TB this converts every recurring fact-fact join on the
    * bucket key from a full shuffle into a local merge. Requires a
    * catalog table (`saveAsTable`), not a bare path. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  def csv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** ORC reader — the other mainstream columnar format (Hive-ecosystem
    * warehouses); same pushdown/pruning properties as parquet. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Line-oriented text reader: one row per line, column `value` —
    * the raw-corpus ingestion shape (one document per line / JSONL
    * pre-parse). `wholetext = true` flips to one row per FILE for
    * document-per-file layouts. */
  def text(spark: SparkSession, path: String,
           wholetext: Boolean = false): DataFrame =
    spark.read.option("wholetext", wholetext.toString).text(path)

  /** Raw-file reader for multimodal ingestion: one row per file with
    * (path, modificationTime, length, content BINARY) — the shape
    * [[graft.multimodal.Multimodal]] consumes (content = payload).
    * `pathGlob` prunes by filename pattern (e.g. "*.png") at LISTING
    * time, before any bytes are read. Files stream straight into
    * binary rows: sized partitions via maxPartitionBytes apply, so a
    * directory of millions of images scans in parallel without a
    * driver-side file list. */
  def binaryFiles(spark: SparkSession, path: String,
                  pathGlob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", pathGlob).load(path)

  // ---- sinks --------------------------------------------------------------
  // Every sink writes a DIRECTORY of part files (one per partition) —
  // the only write shape that scales: N executors stream their
  // partitions concurrently, no driver funnel. `repartition` before a
  // sink only to control file count, never to 1 at scale.

  /** Parquet sink — the default interchange format (columnar,
    * compressed, schema'd, splittable). */
  def writeParquet(df: DataFrame, path: String,
                   mode: String = "overwrite"): Unit =
    df.write.mode(mode).parquet(path)

  /** CSV sink with header; nulls as empty, RFC-ish quoting. CSV is for
    * export/interop only — it drops types and nested structure. */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
               mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  /** JSON-lines sink — one object per line, splittable on read. */
  def writeJson(df: DataFrame, path: String,
                mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  /** ORC sink — for Hive-ecosystem consumers; columnar, compressed,
    * splittable, predicate-pushdown-capable on read. */
  def writeOrc(df: DataFrame, path: String,
               mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)

  /** Partitioned parquet sink: `partitionBy` columns become directory
    * keys (hive layout), so downstream reads with a filter on those
    * columns prune entire directories before any I/O — the 100 TB
    * pattern for time- or category-partitioned corpora. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)
}
