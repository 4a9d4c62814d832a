package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.exec.HadoopConf

/** Source formats of the reference beyond parquet (SURVEY.md §2.1):
  *
  *  - op 7  JSON source: multiLine JSON arrays with explicit schema (the
  *    `jq -s` ACL dumps of copy-acls.sh:64 and identity-map files).
  *  - op 6  filelist source: newline-delimited paths driving per-path jobs
  *    (distcp-to-databox.sh:18-28).
  *  - op 3  flat listing scan: `binaryFile` format — (path, length,
  *    modificationTime, content) rows straight from a directory tree.
  *  - op 1  recursive usage scan: distributed FileSystem listing via
  *    mapPartitions over a seed-directory Dataset — each partition walks
  *    its subtrees through the Hadoop FileSystem API (NameNode-side
  *    recursion replaces the `hadoop fs -du` forks; snapshot exclusion is
  *    a path predicate).
  */
object Sources {

  /** explicit schemas — the reference's record shapes are fixed (§1.2) */
  val AclSchema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("owner", StringType),
    StructField("group", StringType),
    StructField("acl", ArrayType(StringType))))

  val IdentityMapSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("source", StringType),
    StructField("target", StringType)))

  /** op 7: a multiLine JSON array with explicit schema (no inference pass) */
  def readJsonArray(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("multiLine", "true").json(path)

  /** op 6: newline-delimited filelist → one path per row */
  def readFilelist(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(col("value").as("path"))

  /** op 7 hardened for schema drift: PERMISSIVE ndjson parse that routes
    * malformed records into a quarantine frame instead of failing the job
    * — the per-item error-tolerance posture (op 34) applied at the
    * ingestion edge, where a 100 TB feed WILL contain torn lines. Returns
    * (parsed rows, quarantined raw lines). The parsed frame is cached and
    * CacheTracker-tracked: Spark refuses a filter that references only the
    * internal corrupt-record column on a lazy frame (it would have to
    * re-parse with a different required schema), so materializing once is
    * both the correctness requirement and the cheap plan. */
  def readJsonQuarantine(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    val raw = spark.read
      .schema(schema.add(StructField(corrupt, StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.CacheTracker.track(raw)
    val good = raw.filter(col(corrupt).isNull).drop(corrupt)
    val quarantined = raw.filter(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_line"))
    (good, quarantined)
  }

  /** CSV twin of [[readJsonQuarantine]]: PERMISSIVE delimited-text parse
    * with explicit schema (no inference pass — inference would cost a
    * second full scan at 100 TB and can mis-type sparse columns), torn or
    * arity-mismatched lines routed to the quarantine frame. Quoting,
    * embedded delimiters and escaped quotes ride Spark's univocity
    * parser; `header` strips one leading line per FILE (not per
    * partition). Same materialize-once requirement as the JSON edge: the
    * corrupt-record column only exists on the parsed frame. */
  def readCsvQuarantine(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): (DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    val raw = spark.read
      .schema(schema.add(StructField(corrupt, StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .option("header", header.toString)
      .option("sep", delimiter)
      // RFC-4180 doubled-quote escaping ("" inside a quoted field) —
      // Spark's default escape is backslash, which silently leaves the
      // quotes in the value
      .option("escape", "\"")
      .option("enforceSchema", "true")
      .csv(path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.CacheTracker.track(raw)
    val good = raw.filter(col(corrupt).isNull).drop(corrupt)
    val quarantined = raw.filter(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_line"))
    (good, quarantined)
  }

  /** op 19: a distcp `-filters` file (README.md:94-99) — one exclusion
    * regex per line, blank lines and `#` comments skipped — compiled into
    * a single keep-predicate Column for `pathCol`. Read on the driver
    * (the file is tiny) so the predicate is a plain conjunction that
    * participates in pushdown/codegen rather than a black-box UDF. */
  def exclusionFilter(spark: SparkSession, filtersPath: String,
      pathCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val patterns = spark.read.textFile(filtersPath).collect()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    patterns.map(p => !pathCol.rlike(p)).reduceOption(_ && _).getOrElse(lit(true))
  }

  /** op 3: flat listing of a directory tree with content */
  def binaryListing(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("length"), col("content"))

  /** op 1: distributed recursive usage scan. Seed dirs are distributed to
    * executors; each walks its subtree via FileSystem.listStatus. Exclusion
    * (the `-x` snapshot filter) is a path predicate applied during the walk.
    * Returns (path, size, is_dir) for every entry under the seeds. */
  def usageScan(
      spark: SparkSession,
      seedDirs: Seq[String],
      exclude: String => Boolean = _ => false): DataFrame = {
    import spark.implicits._
    val excludeB = spark.sparkContext.broadcast(exclude)
    val scanned = spark.createDataset(seedDirs)
      .repartition(math.min(seedDirs.size, 32).max(1))
      .mapPartitions { dirs =>
        val conf = HadoopConf()
        dirs.flatMap { d =>
          val p = new Path(d)
          val fs = p.getFileSystem(conf)
          def walk(dir: Path): Iterator[(String, Long, Boolean)] = {
            val entries = try fs.listStatus(dir).iterator
                          catch { case _: java.io.FileNotFoundException => Iterator.empty }
            entries.flatMap { st =>
              val sp = st.getPath.toUri.getPath
              if (excludeB.value(sp)) Iterator.empty
              else if (st.isDirectory) Iterator((sp, 0L, true)) ++ walk(st.getPath)
              else Iterator((sp, st.getLen, false))
            }
          }
          walk(p)
        }
      }
    scanned.toDF("path", "size", "is_dir")
  }

  /** per-directory usage totals from a scan (the `du` aggregation) */
  def directoryUsage(scan: DataFrame): DataFrame =
    scan.filter(!col("is_dir"))
      .withColumn("dir", regexp_replace(col("path"), "/[^/]*$", ""))
      .groupBy("dir").agg(sum("size").as("size"), count(lit(1)).as("n_files"))

  /** op 1 with the reference's recursion cutoff (generate-file-list.py:28-31
    * — its main listing optimization): `du` each directory first
    * (getContentSummary, a server-side call on HDFS-like stores); if the
    * total fits `capacity` the directory becomes ONE packable entry and the
    * walk does NOT descend into it; only oversized directories are opened.
    * On a namespace where most subtrees fit a Data Box, this prunes the
    * listing from O(files) to O(oversized dirs + top-level fits).
    * Returns (path, size, is_dir): is_dir=true rows are pruned subtree
    * totals, is_dir=false rows are individual files under oversized dirs —
    * together they cover every file exactly once (SourcesSpec property).
    *
    * Deliberately takes NO exclusion predicate: a pruned directory's size
    * comes from getContentSummary, which counts every descendant including
    * ones an exclusion would drop, so pruning and exclusion compose
    * unsoundly — a scan that must exclude paths uses `usageScan` (full
    * walk, per-entry filter) instead of a mode flag here. */
  def usageScanPruned(
      spark: SparkSession,
      seedDirs: Seq[String],
      capacity: Long): DataFrame = {
    import spark.implicits._
    val scanned = spark.createDataset(seedDirs)
      .repartition(math.min(seedDirs.size, 32).max(1))
      .mapPartitions { dirs =>
        val conf = HadoopConf()
        dirs.flatMap { d =>
          val seed = new Path(d)
          val fs = seed.getFileSystem(conf)
          def walk(dir: Path): Iterator[(String, Long, Boolean)] = {
            val sp = dir.toUri.getPath
            val total = fs.getContentSummary(dir).getLength
            if (total <= capacity) Iterator((sp, total, true)) // cutoff: don't descend
            else {
              val entries = try fs.listStatus(dir).iterator
                            catch { case _: java.io.FileNotFoundException => Iterator.empty }
              entries.flatMap { st =>
                val p = st.getPath.toUri.getPath
                if (st.isDirectory) walk(st.getPath)
                else Iterator((p, st.getLen, false))
              }
            }
          }
          walk(seed)
        }
      }
    scanned.toDF("path", "size", "is_dir")
  }
}
