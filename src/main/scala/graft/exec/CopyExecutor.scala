package graft.exec

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference's copy engine re-expressed on Spark's scheduler
  * (SURVEY.md §2.10, §3.3):
  *
  *  - op 33 phase barrier: directories created one depth level per job
  *    (parents before children), then files copied in one more job —
  *    ordered Spark jobs replace copy-to-adls.py:117-132.
  *  - op 32 work queue: `repartition(n)` fan-outs replace the 10-thread
  *    queue.Queue fan-out (adls_copy_utils.py:106-145), one Spark job per
  *    barrier; Spark's task scheduler provides retry/locality for free.
  *  - op 34 error tolerance: failures become a `status` row in the returned
  *    quarantine DataFrame instead of the reference's silent skip (which
  *    could hang its queue.join barrier — copy-to-adls.py:93 note).
  *
  * Every sink — each copy depth level, the copy's files, the owner remap,
  * the compaction — runs through one helper, `sink`: the per-item body
  * under the quarantine, its rows persisted and materialised by one
  * `count()` job. So a side effect runs once per call, as the reference's
  * run once per path; further actions on a returned frame, or a catalog
  * clear, only read its rows, which the context cleaner reclaims once the
  * frame is unreachable. Read-only [[verifyCopy]] stays a Dataset query.
  *
  * At 100 TB the dirs phase is tiny (directories ≪ files) and the files
  * action is embarrassingly parallel; parallelism = partitions, the
  * `-m`/`--max-parallelism` knobs of the reference.
  */
object CopyExecutor {

  final case class CopyResult(name: String, status: String, detail: String)

  /** 20 MiB — the reference's ranged-copy block size (copy-to-adls.py:24
    * BLOCK_SIZE; BASELINE.md constant). chunk_plan (PackingOps) is the
    * oracled schedule of exactly this loop's (offset, len) pairs. */
  val BlockSize: Long = 20L * 1024 * 1024

  /** The sink runner (see the header): `body` once per item, an item's
    * `Exception` quarantined as a `failed` row for `name(item)`. */
  private def sink[T](items: RDD[T])(name: T => String)(
      body: T => CopyResult): RDD[CopyResult] = {
    val out = items.map { t =>
      try body(t)
      catch { case e: Exception => CopyResult(name(t), "failed", String.valueOf(e.getMessage)) }
    }.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** The reference's copy inner loop (copy-to-adls.py:55-91), one file:
    * create the destination, then for each offset in range(0, length,
    * blockSize): ranged GET from the source → append at that position on
    * the destination, and finally flush at the total length. Runs inside
    * an executor task; returns the chunk count. */
  private def copyChunked(src: FileOps, dst: FileOps, name: String,
      totalLen: Long, blockSize: Long): Long = {
    dst.createFile(name)
    var off = 0L
    var chunks = 0L
    while (off < totalLen) {
      val n = math.min(blockSize, totalLen - off).toInt
      dst.append(name, off, src.readRange(name, off, n))
      off += n
      chunks += 1
    }
    dst.flush(name, totalLen)
    chunks
  }

  /** Copy an inventory (name, parent_directory, is_folder, owner, grp,
    * perms, length) into `ops`' namespace. Returns per-item status.
    *
    * With `source` set, file bytes are streamed through the chunked
    * ranged-read → append → flush loop above (the declared inventory
    * `length` drives the chunk schedule, exactly as the reference trusts
    * its inventory listing — copy-to-adls.py:64). Without a source (no
    * byte store to read from), a deterministic stub payload of
    * `length % 4096` bytes is written whole — the metadata/ACL/quarantine
    * path is identical either way.
    *
    * `preflight = true` is the idempotent re-run mode
    * (distcp-to-databox.sh:20-26: `hadoop fs -test -e $dest` before each
    * submission): a file that already exists at its expected byte length
    * is reported `skipped` without touching the destination, so a re-run
    * after a partial failure pays only for the missing files. An
    * existing file at the WRONG length (a torn earlier copy) is re-copied
    * — createFile truncates, same as the reference's overwriting PUT.
    *
    * Job shape: the dirs are fanned out once (`parallelism` tasks) by the
    * job that collects their distinct depths, then each depth level is
    * one job, and the files are one more: L + 2 jobs for L levels. The
    * phases are plain RDD jobs because a side-effect loop needs no
    * Catalyst planning; a Dataset query per level would pay for planning,
    * an AQE stage and an exchange at every barrier.
    *
    * Result lifetime: that of every sink (see the header). */
  def copyInventory(
      spark: SparkSession,
      inventory: DataFrame,
      ops: FileOps,
      parallelism: Int = 8,
      source: Option[FileOps] = None,
      blockSize: Long = BlockSize,
      preflight: Boolean = false): DataFrame = {
    import spark.implicits._

    // phase 1: dirs, shallowest level first; a level's job completes
    // before the next starts, so parents exist before children. Only the
    // depth values (~tree height) reach the driver, never the dirs.
    val dirs = inventory.filter(col("is_folder"))
      .select(length(col("name")) - length(regexp_replace(col("name"), "/", "")),
        col("name"), col("owner"), col("grp"), col("perms"))
      .as[(Int, String, String, String, String)]
      .rdd.repartition(parallelism).persist(StorageLevel.MEMORY_AND_DISK)
    val depths = dirs.map(_._1).distinct().collect().sorted
    val levels = depths.toSeq.map { d =>
      sink(dirs.filter(_._1 == d))(_._2) {
        case (_, name, owner, grp, perms) =>
          ops.mkdirs(name)
          ops.setOwnership(name, owner, grp, perms)
          CopyResult(name, "ok", "dir")
      }
    }
    dirs.unpersist(blocking = false)

    // phase 2: files, partition-parallel; task-level retries are
    // idempotent-overwrite by design (createFile truncates, so a retried
    // file restarts from offset 0)
    val files = sink(inventory.filter(!col("is_folder"))
        .select("name", "owner", "grp", "perms", "length")
        .as[(String, String, String, String, Long)]
        .rdd.repartition(parallelism))(_._1) {
      case (name, owner, grp, perms, len) =>
        // the byte length this copy will land on disk: the declared
        // inventory length on the chunked path, the stub size otherwise
        val physLen = if (source.isDefined) len else (len % 4096).max(1)
        if (preflight && ops.exists(name) && ops.length(name) == physLen) {
          CopyResult(name, "skipped", "preflight: exists at expected length")
        } else {
          val detail = source match {
            case Some(src) =>
              val chunks = copyChunked(src, ops, name, len, blockSize)
              s"file chunks=$chunks"
            case None =>
              // no byte store behind this inventory: deterministic stub
              // payload so the metadata path still lands real files
              ops.write(name, new Array[Byte](physLen.toInt))
              "file"
          }
          ops.setOwnership(name, owner, grp, perms)
          CopyResult(name, "ok", detail)
        }
    }

    spark.sparkContext.union(files +: levels).toDF()
  }

  final case class VerifyResult(dir: String, status: String,
      src_files: Long, dst_files: Long, src_bytes: Long, dst_bytes: Long,
      src_names_sum: Long, dst_names_sum: Long)

  /** 32-bit md5-prefix checksum of a path name — the per-file term of the
    * manifest's order-insensitive names checksum. MUST stay in lockstep
    * with the inv_manifest query's `conv(substring(md5(name), 1, 8), 16,
    * 10)` (InventoryOps) and the oracle's `('0x' || substr(md5(name), 1,
    * 8))::BIGINT`: all three hash the UTF-8 bytes of the same rooted
    * path. Summed (commutative), so neither engine needs a per-directory
    * sort or a collect_list that would balloon on a 10M-file directory. */
  def nameChecksum(name: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(name.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** BOM/manifest verification (reference README.md:150-152 — the "verify
    * against the BOM files that all your data is uploaded" step, the only
    * post-copy correctness check the reference prescribes). Compares the
    * per-directory manifest DECLARED by the source inventory — file
    * count, total bytes, order-insensitive names checksum (the
    * inv_manifest query) — against what a destination listing actually
    * holds, and returns one row per directory with both sides and a
    * status: `ok`, `mismatch`, or `missing` (destination directory
    * absent). Engine sidecars (.acl/.meta) and unit markers (_copied) are
    * excluded from the destination count — they are bookkeeping, not
    * payload. Directories with no direct files (empty, or holding only
    * subdirectories) are verified too, as 0-count/0-byte manifests, so a
    * missing empty directory is caught and re-landed by [[repairCopy]].
    *
    * Scale shape: the source side is one hash aggregation over the
    * inventory (no sort, no name list ever materialized); the destination
    * side fans one listing task per directory across the cluster — the
    * same parallelism-bounded fan-out as the mkdir phase. Nothing beyond
    * per-directory triples reaches the driver. */
  def verifyCopy(
      spark: SparkSession,
      inventory: DataFrame,
      ops: FileOps,
      parallelism: Int = 8): DataFrame = {
    import spark.implicits._
    val filed = inventory.filter(!col("is_folder"))
      .groupBy(col("parent_directory").as("dir"))
      .agg(
        count(lit(1)).as("src_files"),
        sum("length").as("src_bytes"),
        sum(conv(substring(md5(col("name").cast("binary")), 1, 8), 16, 10)
          .cast("long")).as("src_names_sum"))
    // a directory with no direct files (empty, or holding only
    // subdirectories) produces no group above — union it in as a 0/0/0
    // manifest so its absence at the destination is still `missing` and
    // repairCopy re-lands it (anti-join on the file-bearing dir set; both
    // sides are inventory aggregates, shuffled on dir)
    val zeroFileDirs = inventory.filter(col("is_folder"))
      .select(col("name").as("dir"))
      .join(filed.select("dir"), Seq("dir"), "left_anti")
      .select(col("dir"), lit(0L).as("src_files"), lit(0L).as("src_bytes"),
        lit(0L).as("src_names_sum"))
    val src = filed.unionByName(zeroFileDirs)
    src.repartition(parallelism)
      .as[(String, Long, Long, Long)]
      .mapPartitions { it =>
        it.map { case (dir, nSrc, bSrc, sSrc) =>
          try {
            val entries = ops.listDir(dir)
              .filter(e => !e.isFolder &&
                !e.name.endsWith(".acl") && !e.name.endsWith(".meta") &&
                !e.name.endsWith("/_copied"))
            val nDst = entries.size.toLong
            val bDst = entries.map(_.length).sum
            val sDst = entries.map(e => nameChecksum(e.name)).sum
            val ok = nDst == nSrc && bDst == bSrc && sDst == sSrc
            VerifyResult(dir, if (ok) "ok" else "mismatch",
              nSrc, nDst, bSrc, bDst, sSrc, sDst)
          } catch {
            case _: java.io.FileNotFoundException =>
              VerifyResult(dir, "missing", nSrc, 0L, bSrc, 0L, sSrc, 0L)
          }
        }
      }
      .toDF()
  }

  /** Verify-and-repair: the re-run loop a real migration closes after the
    * BOM check finds damage (reference README.md:150-152 verification +
    * distcp-to-databox.sh:20-26 idempotent re-submission, composed).
    * Runs [[verifyCopy]], narrows the inventory to the directories whose
    * manifests disagree (plus the missing directories themselves), and
    * re-runs [[copyInventory]] in preflight mode over ONLY that slice —
    * intact files inside a damaged directory are probed and `skipped`,
    * torn ones (wrong length / absent) are re-copied — then re-verifies.
    *
    * Returns (repairResults, verifyAfter). A directory the repair cannot
    * fix by copying — e.g. an EXTRA foreign file inflating the
    * destination count — stays `mismatch` in verifyAfter rather than
    * being deleted: the engine never removes data it did not write.
    *
    * Scale shape: the damaged-directory set is a broadcast semi-join
    * against the inventory (damage after a mostly-successful copy is
    * sparse by assumption — and when it is not, AQE degrades the
    * semi-join to a shuffle join and the repair is simply a re-copy). */
  def repairCopy(
      spark: SparkSession,
      inventory: DataFrame,
      ops: FileOps,
      parallelism: Int = 8,
      source: Option[FileOps] = None,
      blockSize: Long = BlockSize): (DataFrame, DataFrame) = {
    val bad = verifyCopy(spark, inventory, ops, parallelism)
      .filter(col("status") =!= "ok")
      .select(col("dir"))
    val badFiles = inventory.filter(!col("is_folder"))
      .join(broadcast(bad), inventory("parent_directory") === bad("dir"), "left_semi")
    val badDirs = inventory.filter(col("is_folder"))
      .join(broadcast(bad), inventory("name") === bad("dir"), "left_semi")
    val results = copyInventory(spark, badDirs.unionByName(badFiles), ops,
      parallelism, source, blockSize, preflight = true)
    (results, verifyCopy(spark, inventory, ops, parallelism))
  }

  /** Small-files compaction groups — the executable form of the
    * `layout_compact_plan` query: per (directory, group) the member file
    * names IN NAME ORDER plus the group byte total. Same window cumsum
    * grouping (offset DIV target), so the two stay consistent by
    * construction. */
  def compactionGroups(invFiles: DataFrame, targetBytes: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("parent_directory").orderBy("name")
      .rowsBetween(Long.MinValue, 0)
    invFiles
      .select(col("parent_directory"), col("name"), col("length"))
      .withColumn("cum_before", sum("length").over(w) - col("length"))
      .groupBy(col("parent_directory"),
        expr(s"cum_before DIV $targetBytes").as("grp_id"))
      .agg(sort_array(collect_list(col("name"))).as("names"),
        sum("length").as("grp_bytes"))
  }

  /** Execute a compaction plan: each group's files are concatenated in
    * name order into `<dir>/.compact-<grp>` through the same
    * create/append/flush verb trio the copy engine uses, then checked
    * against the planned byte total — a landed size that disagrees with
    * the plan quarantines the group (`mismatch`) instead of silently
    * shipping a torn artifact; per-file read failures quarantine as
    * `failed`. Groups are independent and byte-bounded by the planner, so
    * the fan-out is partition-parallel with bounded task memory — the
    * executor half the layout tier's planner queries feed at 100 TB.
    *
    * Job shape: one RDD job of `parallelism` tasks after the group plan's
    * own jobs. Further actions on the result only read its rows; they
    * never re-create an artifact another reader may already hold. */
  def compactExecute(
      spark: SparkSession,
      groups: DataFrame,
      ops: FileOps,
      parallelism: Int = 8): DataFrame = {
    import spark.implicits._
    sink(groups
        .select(concat(col("parent_directory"), lit("/.compact-"), col("grp_id")),
          col("names"), col("grp_bytes"))
        .as[(String, Seq[String], Long)]
        .rdd.repartition(parallelism))(_._1) { case (out, names, planned) =>
      ops.createFile(out)
      var off = 0L
      names.foreach { n =>
        val data = ops.read(n)
        ops.append(out, off, data)
        off += data.length
      }
      ops.flush(out, off)
      if (off == planned) CopyResult(out, "ok", s"files=${names.size} bytes=$off")
      else CopyResult(out, "mismatch", s"landed $off bytes, plan said $planned")
    }.toDF("path", "status", "detail")
  }

  /** Op 13 end-to-end: apply an identity remap (the inv_remap_owners
    * query's output: name, new_owner, new_grp, changed) as in-place
    * metadata updates, the identity-mapper.py:82-99 pipeline. Per changed
    * path, the merge is the reference's exactly: keep every NON-reserved
    * user-metadata key already on the destination, rewrite hdi_permission
    * to the updated permissions JSON, and assert hdi_isfolder on folders
    * — then one whole-map setMetadata call (the single `comp=metadata`
    * PUT). Unchanged paths are not touched at all. Returns per-item
    * status with the quarantine semantics of every other sink.
    *
    * Job shape: one RDD job of `parallelism` tasks after the join's own
    * jobs. Further actions on the result only read its rows, so a changed
    * path gets one `setMetadata` per call. */
  def applyOwnerRemap(
      spark: SparkSession,
      inventory: DataFrame,
      remapped: DataFrame,
      ops: FileOps,
      parallelism: Int = 8): DataFrame = {
    import spark.implicits._
    sink(inventory.select("name", "is_folder", "perms")
        .join(remapped.filter(col("changed"))
          .select("name", "new_owner", "new_grp"), Seq("name"))
        .as[(String, Boolean, String, String, String)]
        .rdd.repartition(parallelism))(_._1) {
      case (name, isFolder, perms, newOwner, newGrp) =>
        val kept = ops.getMetadata(name) --
          Seq(FileOps.MetaPermissions, FileOps.MetaIsFolder)
        val perm =
          s"""{"owner":"$newOwner","group":"$newGrp","permissions":"$perms"}"""
        val merged = kept +
          (FileOps.MetaPermissions -> perm) ++
          (if (isFolder) Map(FileOps.MetaIsFolder -> "true") else Map.empty)
        ops.setMetadata(name, merged)
        CopyResult(name, "ok", s"metadata keys=${merged.size}")
    }.toDF()
  }

  final case class UnitRun(unit: Long, nPaths: Long, startMs: Long, endMs: Long,
      nSkipped: Long = 0L)

  /** op 37 (distcp-to-databox.sh:27 `-async`): submit one copy job PER
    * UNIT and keep up to `maxInFlight` of them running concurrently on the
    * Spark scheduler — fire-and-forget from the submitting thread's view,
    * awaited together at the end. Each unit's job runs under its own job
    * group (cancelable per unit, visible per unit in the UI), the direct
    * analogue of one `-async` distcp submission per Data Box filelist.
    * Returns per-unit timing so callers (and the spec) can observe the
    * overlap.
    *
    * `preflight = true` re-runs idempotently (distcp-to-databox.sh:20-26:
    * `hadoop fs -test -e` before each distcp submission): paths whose
    * `_copied` marker already exists are skipped, counted in
    * [[UnitRun.nSkipped]], so resubmitting after a partial run pays only
    * for the units' missing paths. */
  def copyUnitsAsync(
      spark: SparkSession,
      assignments: DataFrame,
      ops: FileOps,
      maxInFlight: Int = 4,
      preflight: Boolean = false): Seq[UnitRun] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import spark.implicits._

    val units = assignments.filter(col("unit") =!= 0)
      .select(col("unit").cast("long")).distinct().as[Long].collect().sorted
    val pool = java.util.concurrent.Executors.newFixedThreadPool(maxInFlight.max(1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val inFlight = units.toSeq.map { u =>
        Future {
          spark.sparkContext.setJobGroup(s"graft-unit-$u",
            s"async copy of unit $u", interruptOnCancel = true)
          val t0 = System.currentTimeMillis()
          val (n, skipped) = assignments.filter(col("unit") === u)
            .select(col("path")).as[String].rdd
            .mapPartitions { it =>
              var done = 0L; var skip = 0L
              it.foreach { p =>
                if (preflight && ops.exists(s"$p/_copied")) skip += 1
                else { ops.write(s"$p/_copied", Array[Byte]('u')); done += 1 }
              }
              Iterator.single((done, skip))
            }
            .reduce { case ((a, b), (c, d)) => (a + c, b + d) }
          val t1 = System.currentTimeMillis()
          spark.sparkContext.clearJobGroup()
          UnitRun(u, n + skipped, t0, t1, skipped)
        }
      }
      Await.result(Future.sequence(inFlight), Duration(600, "s"))
    } finally pool.shutdown()
  }

  /** op 14: partitioned filelist write — one text file per non-zero unit
    * (generate-file-list.py:68-72) */
  def writeFilelists(assignments: DataFrame, outDir: String): Unit =
    assignments.filter(col("unit") =!= 0)
      .select(col("unit"), col("path"))
      .repartition(col("unit"))
      .sortWithinPartitions("path")
      .write.mode("overwrite")
      .partitionBy("unit")
      .text(outDir)
}
