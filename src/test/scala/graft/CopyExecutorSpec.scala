package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.exec.{CopyExecutor, FileOps, HadoopFileOps}
import graft.fixtures.RefFixtures
import graft.operators.PackingOps

/** Shared call recorder for [[TracingFileOps]] — static so executor-thread
  * calls (same JVM in local mode) land in one ordered queue. */
object CallTrace {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = calls.clear()
  def list: List[String] = {
    val it = calls.iterator(); val b = List.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }
}

/** Decorator that records every FileOps verb in arrival order. */
final class TracingFileOps(inner: FileOps) extends FileOps {
  override def mkdirs(path: String): Boolean = {
    CallTrace.calls.add(s"mkdir:$path"); inner.mkdirs(path)
  }
  override def exists(path: String): Boolean = inner.exists(path)
  override def write(path: String, content: Array[Byte]): Unit = {
    CallTrace.calls.add(s"write:$path"); inner.write(path, content)
  }
  override def getMetadata(path: String): Map[String, String] = {
    CallTrace.calls.add(s"getMetadata:$path"); inner.getMetadata(path)
  }
  override def read(path: String): Array[Byte] = inner.read(path)
  override def setOwnership(p: String, o: String, g: String, m: String): Unit =
    inner.setOwnership(p, o, g, m)
  override def length(path: String): Long = inner.length(path)
  override def readRange(path: String, offset: Long, len: Int): Array[Byte] = {
    CallTrace.calls.add(s"readRange:$path:$offset:$len")
    inner.readRange(path, offset, len)
  }
  override def createFile(path: String): Unit = {
    CallTrace.calls.add(s"create:$path"); inner.createFile(path)
  }
  override def append(path: String, offset: Long, data: Array[Byte]): Unit = {
    CallTrace.calls.add(s"append:$path:$offset:${data.length}")
    inner.append(path, offset, data)
  }
  override def flush(path: String, totalLen: Long): Unit = {
    CallTrace.calls.add(s"flush:$path:$totalLen"); inner.flush(path, totalLen)
  }
  override def listDir(path: String): Seq[graft.exec.DirEntry] = {
    CallTrace.calls.add(s"list:$path"); inner.listDir(path)
  }
}

/** copy/ACL executor over local FS: phase ordering, parallel fan-out,
  * per-item quarantine (ops 9-15, 32-34). */
class CopyExecutorSpec extends AnyFunSuite with CacheDrained {

  test("copyInventory creates dirs before files, writes acl sidecars") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-copy").toString
    val inv = RefFixtures.inventory(spark, TestSpark.Sf)
      .filter(org.apache.spark.sql.functions.col("name")
        .startsWith("/data/part=1/") or
        org.apache.spark.sql.functions.col("name") === "/data/part=1")
    val ops = new HadoopFileOps(s"file://$tmp")
    val results = CopyExecutor.copyInventory(spark, inv, ops, parallelism = 4)
    val byStatus = results.groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus.getOrElse("failed", 0L) == 0L)
    assert(byStatus("ok") == inv.count())
    // a file and its acl sidecar both exist
    val sample = inv.filter(!org.apache.spark.sql.functions.col("is_folder"))
      .select("name").first().getString(0)
    assert(ops.exists(sample))
    assert(ops.exists(sample + ".acl"))
  }

  test("chunked copy loop: ranged read -> append at offset -> flush, byte-identical (op 5)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val srcRoot = Files.createTempDirectory("graft-chunk-src").toString
    val dstRoot = Files.createTempDirectory("graft-chunk-dst").toString
    val srcOps = new HadoopFileOps(s"file://$srcRoot")
    // destination is the cloud-shaped scheme: create/append/flush flow
    // through GraftFsFileSystem exactly as an abfss:// binding would
    val conf = Map(
      "fs.graftfs.impl" -> "graft.exec.GraftFsFileSystem",
      "fs.graftfs.root.chunkacct" -> dstRoot,
      "fs.graftfs.token.provider" -> "graft.exec.CountingTokenProvider")
    val dstOps = new TracingFileOps(new HadoopFileOps("graftfs://chunkacct", conf))

    val bs = 256 * 1024L // scaled-down block, same loop as the 20 MiB production constant
    val rnd = new scala.util.Random(42)
    // ragged multi-chunk, exact-multiple, and empty files
    val sizes = Map("/big/a.bin" -> (4 * bs + 1).toInt, "/big/b.bin" -> (2 * bs).toInt,
      "/big/empty.bin" -> 0)
    val content = sizes.map { case (n, len) =>
      val buf = new Array[Byte](len); rnd.nextBytes(buf); n -> buf
    }
    content.foreach { case (n, buf) => srcOps.write(n, buf) }

    val inv = (("/big", "/", true, 0L) +: sizes.toSeq.map { case (n, len) =>
      (n, "/big", false, len.toLong)
    }).toDF("name", "parent_directory", "is_folder", "length")
      .withColumn("owner", org.apache.spark.sql.functions.lit("u"))
      .withColumn("grp", org.apache.spark.sql.functions.lit("g"))
      .withColumn("perms", org.apache.spark.sql.functions.lit("rw-r--r--"))

    CallTrace.reset()
    val results = CopyExecutor.copyInventory(spark, inv, dstOps, parallelism = 2,
      source = Some(srcOps), blockSize = bs)
    val byName = results.collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byName.values.forall(_._1 == "ok"), s"failures: $byName")
    assert(byName("/big/a.bin")._2 == "file chunks=5")
    assert(byName("/big/b.bin")._2 == "file chunks=2")
    assert(byName("/big/empty.bin")._2 == "file chunks=0")

    // byte-identical content landed through the append-at-offset path
    content.foreach { case (n, buf) =>
      assert(java.util.Arrays.equals(dstOps.read(n), buf), s"content mismatch for $n")
    }

    // per-chunk call trace: create, then appends at exactly the chunk_plan
    // offsets with ragged tail, then one flush at the total length
    val trace = CallTrace.list
    val a = trace.filter(_.contains("/big/a.bin"))
    assert(a.head == "create:/big/a.bin")
    assert(a.filter(_.startsWith("append")) == Seq(
      s"append:/big/a.bin:0:${bs.toInt}", s"append:/big/a.bin:$bs:${bs.toInt}",
      s"append:/big/a.bin:${2 * bs}:${bs.toInt}", s"append:/big/a.bin:${3 * bs}:${bs.toInt}",
      s"append:/big/a.bin:${4 * bs}:1"))
    assert(a.last == s"flush:/big/a.bin:${4 * bs + 1}")
    val e = trace.filter(_.contains("/big/empty.bin"))
    assert(e == Seq("create:/big/empty.bin", "flush:/big/empty.bin:0"))
  }

  test("dirs phase is distributed per depth level: parents before children, no driver collect of dirs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-depth").toString
    val ops = new TracingFileOps(new HadoopFileOps(s"file://$tmp"))
    // 4-level tree with siblings at every level
    val dirNames = Seq("/a", "/b",
      "/a/x", "/a/y", "/b/x",
      "/a/x/1", "/a/y/1", "/b/x/1",
      "/a/x/1/deep", "/b/x/1/deep")
    val inv = dirNames.map { n =>
      val parent = n.substring(0, n.lastIndexOf('/')) match { case "" => "/"; case s => s }
      (n, parent, true, 0L)
    }.toDF("name", "parent_directory", "is_folder", "length")
      .withColumn("owner", org.apache.spark.sql.functions.lit("u"))
      .withColumn("grp", org.apache.spark.sql.functions.lit("g"))
      .withColumn("perms", org.apache.spark.sql.functions.lit("rwxr-xr-x"))
    CallTrace.reset()
    val results = CopyExecutor.copyInventory(spark, inv, ops, parallelism = 3)
    assert(results.filter(org.apache.spark.sql.functions.col("status") =!= "ok").count() == 0)
    val mkdirs = CallTrace.list.filter(_.startsWith("mkdir:")).map(_.stripPrefix("mkdir:"))
    assert(mkdirs.toSet == dirNames.toSet)
    // every child's mkdir arrives after its parent's (per-level action barrier)
    dirNames.filter(_.count(_ == '/') > 1).foreach { child =>
      val parent = child.substring(0, child.lastIndexOf('/'))
      assert(mkdirs.indexOf(parent) < mkdirs.indexOf(child),
        s"$parent not created before $child: $mkdirs")
    }
  }

  /** The 4-level tree of the per-level spec plus two files, their bytes
    * landed in `srcOps`. */
  private def treeWithFiles(srcOps: FileOps): org.apache.spark.sql.DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    val dirNames = Seq("/a", "/b", "/a/x", "/a/y", "/b/x",
      "/a/x/1", "/a/y/1", "/b/x/1", "/a/x/1/deep", "/b/x/1/deep")
    val files = Seq("/a/x/f.dat" -> 5, "/b/x/1/deep/g.dat" -> 7)
    files.foreach { case (n, len) => srcOps.write(n, Array.fill[Byte](len)(1)) }
    (dirNames.map(n => (n, true, 0L)) ++ files.map { case (n, len) => (n, false, len.toLong) })
      .map { case (n, isFolder, len) =>
        val parent = n.substring(0, n.lastIndexOf('/')) match { case "" => "/"; case p => p }
        (n, parent, isFolder, len)
      }
      .toDF("name", "parent_directory", "is_folder", "length")
      .withColumn("owner", org.apache.spark.sql.functions.lit("u"))
      .withColumn("grp", org.apache.spark.sql.functions.lit("g"))
      .withColumn("perms", org.apache.spark.sql.functions.lit("rwxr-xr-x"))
  }

  test("copy side effects run exactly once: a catalog clear does not re-run them") {
    val spark = TestSpark.spark
    val srcOps = new HadoopFileOps(s"file://${Files.createTempDirectory("graft-once-src")}")
    val ops = new TracingFileOps(
      new HadoopFileOps(s"file://${Files.createTempDirectory("graft-once-dst")}"))
    val inv = treeWithFiles(srcOps)
    CallTrace.reset()
    val results = CopyExecutor.copyInventory(spark, inv, ops, parallelism = 3,
      source = Some(srcOps))
    val calls = CallTrace.list
    assert(calls.count(_.startsWith("mkdir:")) == 10 && calls.count(_.startsWith("create:")) == 2)
    spark.catalog.clearCache()
    assert(results.count() == 12)
    assert(results.collect().forall(_.getString(1) == "ok"))
    assert(CallTrace.list == calls,
      s"further actions re-ran the copy: ${CallTrace.list.size} calls, was ${calls.size}")
  }

  test("copyInventory job budget: one job per depth level plus two (fan-out, files)") {
    val spark = TestSpark.spark
    val srcOps = new HadoopFileOps(s"file://${Files.createTempDirectory("graft-jobs-src")}")
    val ops = new HadoopFileOps(s"file://${Files.createTempDirectory("graft-jobs-dst")}")
    val inv = treeWithFiles(srcOps)
    val (_, jobs) = TestSpark.jobsDuring("graft-copy-job-budget") {
      CopyExecutor.copyInventory(spark, inv, ops, parallelism = 3, source = Some(srcOps))
    }
    // at least one job per level: the per-level barrier stays
    val levels = 4
    assert(jobs >= levels && jobs <= levels + 2,
      s"copyInventory started $jobs jobs")
  }

  test("per-item failures are quarantined, not fatal (op 34)") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-copy2").toString
    val inner = new HadoopFileOps(s"file://$tmp")
    val flaky: FileOps = new FileOps {
      override def mkdirs(path: String): Boolean = inner.mkdirs(path)
      override def exists(path: String): Boolean = inner.exists(path)
      override def write(path: String, content: Array[Byte]): Unit = {
        if (path.endsWith("1.dat")) sys.error(s"injected failure for $path")
        inner.write(path, content)
      }
      override def read(path: String): Array[Byte] = inner.read(path)
      override def setOwnership(p: String, o: String, g: String, m: String): Unit =
        inner.setOwnership(p, o, g, m)
      override def listDir(path: String): Seq[graft.exec.DirEntry] = inner.listDir(path)
    }
    val inv = RefFixtures.inventory(spark, TestSpark.Sf)
      .filter(org.apache.spark.sql.functions.col("parent_directory") === "/data/part=2" or
        org.apache.spark.sql.functions.col("name") === "/data/part=2")
    val results = CopyExecutor.copyInventory(spark, inv, flaky, parallelism = 2)
    val failed = results.filter(org.apache.spark.sql.functions.col("status") === "failed")
    assert(failed.count() > 0) // some names end in 1.dat
    assert(results.count() == inv.count()) // nothing dropped, nothing hung
  }

  test("copy pipeline runs against a cloud-shaped scheme with config-driven auth (ops 35-36)") {
    val spark = TestSpark.spark
    val backing = Files.createTempDirectory("graft-abfs").toString
    graft.exec.CountingTokenProvider.fetches.set(0)
    // per-account binding + token provider flow through the Hadoop
    // Configuration, exactly like fs.azure.account.key.<acct> /
    // fs.azure.sas.token.provider.type for a real abfss:// target
    val conf = Map(
      "fs.graftfs.impl" -> "graft.exec.GraftFsFileSystem",
      "fs.graftfs.root.testacct" -> backing,
      "fs.graftfs.token.provider" -> "graft.exec.CountingTokenProvider")
    val inv = RefFixtures.inventory(spark, TestSpark.Sf)
      .filter(org.apache.spark.sql.functions.col("name")
        .startsWith("/data/part=3/") or
        org.apache.spark.sql.functions.col("name") === "/data/part=3")
    val ops = new HadoopFileOps("graftfs://testacct", conf)
    val results = CopyExecutor.copyInventory(spark, inv, ops, parallelism = 4)
    val byStatus = results.groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus.getOrElse("failed", 0L) == 0L)
    assert(byStatus("ok") == inv.count())
    // bytes actually landed in the account's backing store
    val sample = inv.filter(!org.apache.spark.sql.functions.col("is_folder"))
      .select("name").first().getString(0)
    assert(ops.exists(sample) && ops.exists(sample + ".acl"))
    assert(Files.exists(java.nio.file.Paths.get(backing + sample)))
    // auth amortization: many files copied, ONE token fetch (the Hadoop
    // FileSystem cache reuses the authenticated instance across all tasks
    // of this JVM — at cluster scale, one fetch per executor)
    assert(graft.exec.CountingTokenProvider.fetches.get() == 1,
      s"expected 1 token fetch, got ${graft.exec.CountingTokenProvider.fetches.get()}")
  }

  test("async per-unit fan-out keeps N unit jobs in flight concurrently (op 37)") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-async").toString
    val inner = new HadoopFileOps(s"file://$tmp")
    val slow: FileOps = new FileOps { // pace writes so overlap is observable
      override def mkdirs(path: String): Boolean = inner.mkdirs(path)
      override def exists(path: String): Boolean = inner.exists(path)
      override def write(path: String, content: Array[Byte]): Unit = {
        Thread.sleep(5); inner.write(path, content)
      }
      override def read(path: String): Array[Byte] = inner.read(path)
      override def setOwnership(p: String, o: String, g: String, m: String): Unit =
        inner.setOwnership(p, o, g, m)
      override def listDir(path: String): Seq[graft.exec.DirEntry] = inner.listDir(path)
    }
    val assignments = SparkEntry.queries("pack_nextfit")(spark, TestSpark.Sf)
      .filter(org.apache.spark.sql.functions.col("unit").between(1, 6))
    val runs = CopyExecutor.copyUnitsAsync(spark, assignments, slow, maxInFlight = 3)
    assert(runs.map(_.nPaths).sum == assignments.count())
    runs.foreach(r => assert(r.nPaths > 0))
    val overlaps = runs.combinations(2).count {
      case Seq(a, b) => a.startMs < b.endMs && b.startMs < a.endMs
      case _ => false
    }
    assert(overlaps > 0, s"no unit jobs overlapped: $runs")
  }

  test("verifyCopy: clean copy all ok; corruption, extras, and missing dirs caught (BOM verify)") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val srcRoot = Files.createTempDirectory("graft-bom-src").toString
    val dstRoot = Files.createTempDirectory("graft-bom-dst").toString
    val srcOps = new HadoopFileOps(s"file://$srcRoot")
    val dstOps = new HadoopFileOps(s"file://$dstRoot")

    val inv = RefFixtures.inventory(spark, TestSpark.Sf)
      .filter(col("name").startsWith("/data/part=4/") or
        col("name").startsWith("/data/part=5/") or
        col("name").startsWith("/data/part=6/") or
        col("name").isin("/data/part=4", "/data/part=5", "/data/part=6"))
    // land real source bytes at the declared lengths (bounded for the test)
    val capped = inv.withColumn("length",
      org.apache.spark.sql.functions.when(col("is_folder"), 0L)
        .otherwise(col("length") % 2048))
    capped.filter(!col("is_folder")).select("name", "length").collect()
      .foreach(r => srcOps.write(r.getString(0), new Array[Byte](r.getLong(1).toInt)))
    val copied = CopyExecutor.copyInventory(spark, capped, dstOps, parallelism = 2,
      source = Some(srcOps))
    assert(copied.filter(col("status") =!= "ok").count() == 0)

    val clean = CopyExecutor.verifyCopy(spark, capped, dstOps, parallelism = 2)
    assert(clean.filter(col("status") =!= "ok").count() == 0,
      s"clean copy flagged: ${clean.filter(col("status") =!= "ok").collect().mkString(", ")}")

    // corrupt one file (truncate), plant a rogue extra in a second dir,
    // and verify against an inventory that also declares a never-copied dir
    val victim = capped.filter(!col("is_folder") && col("parent_directory") === "/data/part=4")
      .select("name").first().getString(0)
    dstOps.write(victim, new Array[Byte](1))
    dstOps.write("/data/part=5/rogue-extra.dat", new Array[Byte](7))
    val withGhost = capped.unionByName(
      Seq(("/data/part=ghost/g.dat", "/data/part=ghost", false, "u", "g", "rw-r--r--", 9L))
        .toDF("name", "parent_directory", "is_folder", "owner", "grp", "perms", "length"))
    val dirty = CopyExecutor.verifyCopy(spark, withGhost, dstOps, parallelism = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dirty("/data/part=4") == "mismatch", s"truncation not caught: $dirty")
    assert(dirty("/data/part=5") == "mismatch", s"rogue extra not caught: $dirty")
    assert(dirty("/data/part=ghost") == "missing", s"missing dir not caught: $dirty")
    assert(dirty("/data/part=6") == "ok")
  }

  test("verifyCopy covers zero-file directories; repairCopy re-lands a missing empty dir") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dstRoot = Files.createTempDirectory("graft-bom-empty").toString
    val dstOps = new HadoopFileOps(s"file://$dstRoot")
    // one file-bearing dir + one EMPTY dir (folder row, no file rows) —
    // the case a files-only manifest grouping would silently skip
    val inv = Seq(
      ("/d/full", "/d", true, "u", "g", "rwxr-xr-x", 0L),
      ("/d/full/a.dat", "/d/full", false, "u", "g", "rw-r--r--", 16L),
      ("/d/empty", "/d", true, "u", "g", "rwxr-xr-x", 0L))
      .toDF("name", "parent_directory", "is_folder", "owner", "grp", "perms", "length")
    CopyExecutor.copyInventory(spark, inv, dstOps, parallelism = 2)
    val clean = CopyExecutor.verifyCopy(spark, inv, dstOps, parallelism = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clean.contains("/d/empty"), "zero-file directory absent from manifest")
    assert(clean("/d/empty") == "ok" && clean("/d/full") == "ok", s"$clean")
    // lose the empty directory → verify flags it missing, repair re-lands it
    Files.delete(java.nio.file.Paths.get(dstRoot, "d", "empty"))
    val missing = CopyExecutor.verifyCopy(spark, inv, dstOps, parallelism = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(missing("/d/empty") == "missing", s"$missing")
    val (_, after) = CopyExecutor.repairCopy(spark, inv, dstOps, parallelism = 2)
    assert(after.filter(col("status") =!= "ok").count() == 0,
      s"empty dir not re-landed: ${after.collect().mkString(", ")}")
  }

  test("preflight re-run after partial failure copies only the missing files (idempotent re-run)") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    val srcRoot = Files.createTempDirectory("graft-preflight-src").toString
    val tmp = Files.createTempDirectory("graft-preflight").toString
    val srcOps = new HadoopFileOps(s"file://$srcRoot")
    val inner = new HadoopFileOps(s"file://$tmp")
    // fail the copy inner loop (append) for a name subset — a torn first run
    val flaky: FileOps = new FileOps {
      override def mkdirs(path: String): Boolean = inner.mkdirs(path)
      override def exists(path: String): Boolean = inner.exists(path)
      override def write(path: String, content: Array[Byte]): Unit = inner.write(path, content)
      override def read(path: String): Array[Byte] = inner.read(path)
      override def setOwnership(p: String, o: String, g: String, m: String): Unit =
        inner.setOwnership(p, o, g, m)
      override def listDir(path: String): Seq[graft.exec.DirEntry] = inner.listDir(path)
      override def length(path: String): Long = inner.length(path)
      override def createFile(path: String): Unit = inner.createFile(path)
      override def append(path: String, offset: Long, data: Array[Byte]): Unit = {
        if (path.endsWith("1.dat")) sys.error(s"injected failure for $path")
        inner.append(path, offset, data)
      }
      override def flush(path: String, totalLen: Long): Unit = inner.flush(path, totalLen)
    }
    val inv = RefFixtures.inventory(spark, TestSpark.Sf)
      .filter(col("parent_directory") === "/data/part=7" or col("name") === "/data/part=7")
      // small but never-zero lengths so every file has at least one chunk
      .withColumn("length",
        org.apache.spark.sql.functions.when(col("is_folder"), 0L)
          .otherwise(col("length") % 2048 + 1))
    inv.filter(!col("is_folder")).select("name", "length").collect()
      .foreach(r => srcOps.write(r.getString(0), new Array[Byte](r.getLong(1).toInt)))

    val first = CopyExecutor.copyInventory(spark, inv, flaky, parallelism = 2,
      source = Some(srcOps))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val failedNames = first.collect { case (n, "failed") => n }.toSet
    assert(failedNames.nonEmpty, "fixture slice has no *1.dat names")

    val second = CopyExecutor.copyInventory(spark, inv, inner, parallelism = 2,
      source = Some(srcOps), preflight = true)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val fileNames = first.keySet.filter(_.endsWith(".dat"))
    fileNames.foreach { name =>
      if (failedNames(name))
        assert(second(name) == "ok", s"$name: expected re-copy, got ${second(name)}")
      else
        assert(second(name) == "skipped", s"$name: expected skip, got ${second(name)}")
    }
    // and the re-run left a complete, verifiable destination
    val verified = CopyExecutor.verifyCopy(spark, inv, inner, parallelism = 2)
    assert(verified.filter(col("status") =!= "ok").count() == 0)
  }

  test("repairCopy re-copies only the damaged directories' torn files and re-verifies clean") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    val srcRoot = Files.createTempDirectory("graft-repair-src").toString
    val dstRoot = Files.createTempDirectory("graft-repair-dst").toString
    val srcOps = new HadoopFileOps(s"file://$srcRoot")
    val dstOps = new HadoopFileOps(s"file://$dstRoot")
    val inv = RefFixtures.inventory(spark, TestSpark.Sf)
      .filter(col("name").startsWith("/data/part=1/") or
        col("name").startsWith("/data/part=2/") or
        col("name").isin("/data/part=1", "/data/part=2"))
      .withColumn("length",
        org.apache.spark.sql.functions.when(col("is_folder"), 0L)
          .otherwise(col("length") % 2048 + 1))
    inv.filter(!col("is_folder")).select("name", "length").collect()
      .foreach(r => srcOps.write(r.getString(0), new Array[Byte](r.getLong(1).toInt)))
    CopyExecutor.copyInventory(spark, inv, dstOps, parallelism = 2, source = Some(srcOps))

    // tear one file in part=1 (wrong length); part=2 stays pristine
    val victim = inv.filter(!col("is_folder") && col("parent_directory") === "/data/part=1")
      .select("name").first().getString(0)
    dstOps.write(victim, new Array[Byte](1))

    val (repaired, after) = CopyExecutor.repairCopy(spark, inv, dstOps,
      parallelism = 2, source = Some(srcOps))
    val byName = repaired.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // repair scope is the damaged directory only — pristine part=2 files
    // never even reach the preflight probe
    assert(byName.keySet.forall(n => !n.startsWith("/data/part=2/")),
      s"pristine directory touched: ${byName.keySet}")
    assert(byName(victim) == "ok", s"torn file not re-copied: $byName")
    byName.collect { case (n, s) if n != victim && !n.endsWith("part=1") =>
      assert(s == "skipped", s"intact sibling $n re-copied: $s")
    }
    assert(dstOps.length(victim) ==
      inv.filter(col("name") === victim).select("length").first().getLong(0))
    assert(after.filter(col("status") =!= "ok").count() == 0,
      s"post-repair verify not clean: ${after.collect().mkString(", ")}")
  }

  test("copyUnitsAsync preflight skips already-copied paths (idempotent -async re-run)") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-async-pf").toString
    val ops = new HadoopFileOps(s"file://$tmp")
    val assignments = SparkEntry.queries("pack_nextfit")(spark, TestSpark.Sf)
      .filter(org.apache.spark.sql.functions.col("unit").between(1, 3))
    val n = assignments.count()
    val first = CopyExecutor.copyUnitsAsync(spark, assignments, ops, maxInFlight = 2)
    assert(first.map(_.nPaths).sum == n && first.map(_.nSkipped).sum == 0)
    val second = CopyExecutor.copyUnitsAsync(spark, assignments, ops, maxInFlight = 2,
      preflight = true)
    assert(second.map(_.nPaths).sum == n)
    assert(second.map(_.nSkipped).sum == n,
      s"re-run should skip every path: $second")
  }

  test("applyOwnerRemap merges metadata in place: custom keys kept, reserved keys rewritten (op 13)") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-meta").toString
    val ops = new TracingFileOps(new HadoopFileOps(s"file://$tmp"))
    val inv = RefFixtures.inventory(spark, TestSpark.Sf)
      .filter(col("parent_directory") === "/data/part=8" or col("name") === "/data/part=8")
    CopyExecutor.copyInventory(spark, inv, ops, parallelism = 2)

    import spark.implicits._
    val remapped = SparkEntry.queries("inv_remap_owners")(spark, TestSpark.Sf)
      .join(inv.select("name"), Seq("name"))
      // folder identities (userroot/grproot) are outside the identity map,
      // so force one changed folder row to exercise the hdi_isfolder merge
      .filter(col("name") =!= "/data/part=8")
      .unionByName(Seq(("/data/part=8", "aad-root@example.com", "aad-grproot@example.com", true))
        .toDF("name", "new_owner", "new_grp", "changed"))
    val changedFile = remapped.filter(col("changed"))
      .join(inv.filter(!col("is_folder")).select("name"), Seq("name"))
      .select("name", "new_owner", "new_grp").first()
    val (target, newOwner, newGrp) =
      (changedFile.getString(0), changedFile.getString(1), changedFile.getString(2))
    // pre-existing metadata: a custom key that must survive, a stale
    // reserved key that must be rewritten
    ops.setMetadata(target, Map("project" -> "alpha",
      graft.exec.FileOps.MetaPermissions -> """{"owner":"stale"}"""))

    CallTrace.reset()
    val status = CopyExecutor.applyOwnerRemap(spark, inv, remapped, ops, parallelism = 2)
    assert(status.filter(col("status") =!= "ok").count() == 0)
    assert(status.count() == remapped.filter(col("changed")).count())
    // the merge ran exactly once per changed path, however many actions
    // read the result: one metadata read and one `.meta` write each
    val changedPaths = status.collect().map(_.getString(0)).sorted.toSeq
    val calls = CallTrace.list
    assert(calls.filter(_.startsWith("write:")).sorted == changedPaths.map(p => s"write:$p.meta"),
      s"remap re-ran: ${calls.count(_.startsWith("write:"))} .meta writes for ${changedPaths.size} paths")
    assert(calls.filter(_.startsWith("getMetadata:")).sorted == changedPaths.map(p => s"getMetadata:$p"))

    val meta = ops.getMetadata(target)
    assert(meta("project") == "alpha", s"custom key lost: $meta")
    val perms = inv.filter(col("name") === target).select("perms").first().getString(0)
    assert(meta(graft.exec.FileOps.MetaPermissions) ==
      s"""{"owner":"$newOwner","group":"$newGrp","permissions":"$perms"}""", s"got $meta")
    assert(!meta.contains(graft.exec.FileOps.MetaIsFolder))

    // a changed folder gets hdi_isfolder asserted (identity-mapper.py:88-89)
    val changedDir = remapped.filter(col("changed"))
      .join(inv.filter(col("is_folder")).select("name"), Seq("name"))
      .select("name").collect().headOption.map(_.getString(0))
    changedDir.foreach { d =>
      assert(ops.getMetadata(d).get(graft.exec.FileOps.MetaIsFolder).contains("true"))
    }

    // an unchanged path is never touched
    val unchanged = remapped.filter(!col("changed")).select("name")
      .collect().headOption.map(_.getString(0))
    unchanged.foreach(u => assert(ops.getMetadata(u).isEmpty, s"unchanged $u was touched"))

    // the metadata verbs round-trip through the cloud-shaped scheme too
    val backing = Files.createTempDirectory("graft-meta-fs").toString
    val cloudOps = new HadoopFileOps("graftfs://metaacct", Map(
      "fs.graftfs.impl" -> "graft.exec.GraftFsFileSystem",
      "fs.graftfs.root.metaacct" -> backing,
      "fs.graftfs.token.provider" -> "graft.exec.CountingTokenProvider"))
    cloudOps.mkdirs("/m")
    cloudOps.write("/m/f.dat", Array[Byte](1))
    cloudOps.setMetadata("/m/f.dat", Map("k" -> "v", "k2" -> "v=2"))
    assert(cloudOps.getMetadata("/m/f.dat") == Map("k" -> "v", "k2" -> "v=2"))
  }

  test("partitioned filelist write: one directory per unit, no unit 0 (op 14/20)") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-filelists").toString
    val assignments = SparkEntry.queries("pack_nextfit")(spark, TestSpark.Sf)
    CopyExecutor.writeFilelists(assignments, tmp)
    val unitDirs = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("unit="))
    val expected = assignments
      .filter(org.apache.spark.sql.functions.col("unit") =!= 0)
      .select("unit").distinct().count()
    assert(unitDirs.length == expected)
    assert(!unitDirs.exists(_.getName == "unit=0"))
    val _ = PackingOps.Capacity
  }

  test("compaction executor concatenates groups byte-identically; torn plan quarantines") {
    val spark = TestSpark.spark
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact").toString
    val ops = new TracingFileOps(new HadoopFileOps(s"file://$tmp"))
    // two dirs of small files with deterministic distinct payloads
    val files = for (d <- Seq("/a", "/b"); i <- 0 until 7)
      yield (s"$d/f$i", d, (i + 1) * 100)
    files.foreach { case (name, _, len) =>
      ops.mkdirs(name.split("/").dropRight(1).mkString("/"))
      ops.write(name, Array.tabulate[Byte](len)(j => ((j + len) % 251).toByte))
    }
    val invf = files.toDF("name", "parent_directory", "length")
      .withColumn("length", org.apache.spark.sql.functions.col("length")
        .cast("long"))
    val groups = CopyExecutor.compactionGroups(invf, targetBytes = 900L)
    CallTrace.reset()
    val res = CopyExecutor.compactExecute(spark, groups, ops, parallelism = 2)
    val statuses = res.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(statuses.values.forall(_ == "ok"), s"unexpected statuses: $statuses")
    // a second action only reads the result: no artifact is re-created
    val creates = CallTrace.list.count(_.startsWith("create:"))
    assert(creates == statuses.size)
    assert(res.count() == statuses.size)
    assert(CallTrace.list.count(_.startsWith("create:")) == creates,
      s"a second action re-ran the compaction: $creates creates, then " +
        CallTrace.list.count(_.startsWith("create:")))
    // every group artifact is the in-name-order concatenation of its members
    groups.collect().foreach { r =>
      val dir = r.getString(0)
      val grp = r.getLong(1)
      val names = r.getSeq[String](2)
      val expected = names.toArray.flatMap(n => ops.read(n))
      val got = ops.read(s"$dir/.compact-$grp")
      assert(java.util.Arrays.equals(got, expected),
        s"group $dir/$grp not byte-identical")
    }
    // a plan whose byte total lies (torn source after planning) must
    // quarantine as mismatch, not ship silently
    val torn = groups.limit(1)
      .withColumn("grp_id", org.apache.spark.sql.functions.col("grp_id") + 100)
      .withColumn("grp_bytes", org.apache.spark.sql.functions.col("grp_bytes") + 1)
    val tornRes = CopyExecutor.compactExecute(spark, torn, ops, parallelism = 1)
      .collect()
    assert(tornRes.length == 1 && tornRes.head.getString(1) == "mismatch")
  }

  test("streaming inventory source drives the copy sink: delta runs copy only the delta, bytes verified") {
    // the full MIGRATION.md continuous-sync recipe end-to-end: readStream
    // over a source tree -> foreachBatch -> copyInventory into a dest
    // namespace, two checkpointed Trigger.AvailableNow runs. Run 2 must
    // copy EXACTLY the files written between the runs (the streaming
    // watermark, not a preflight probe, is what limits the work), and
    // every copied file must be byte-identical to its source.
    //
    // The loop also composes the op-19 regex exclusion and the op-23
    // identity remap PER BATCH (a real re-run migration filters and
    // remaps each delta before it ships): .tmp files in either wave must
    // never reach the destination, and every landed file's ownership
    // sidecar must carry the REMAPPED owner (aad-u0 for mapped, u1
    // pass-through for unmapped) — proving the remap ran inside the
    // foreachBatch body, not on some global frame.
    val spark = TestSpark.spark
    import java.nio.file.{Files => JF, Paths}
    import java.nio.file.attribute.FileTime
    val srcRoot = JF.createTempDirectory("graft-ssync-src").toString
    val dstRoot = JF.createTempDirectory("graft-ssync-dst").toString
    val ckpt = JF.createTempDirectory("graft-ssync-ckpt").toString
    val srcOps = new HadoopFileOps(s"file://$srcRoot")
    val dstOps = new HadoopFileOps(s"file://$dstRoot")

    def put(rel: String, len: Int, mtimeS: Long): Unit = {
      val p = Paths.get(s"$srcRoot$rel")
      JF.createDirectories(p.getParent)
      JF.write(p, Array.tabulate[Byte](len)(j => ((j * 7 + len) % 251).toByte))
      JF.setLastModifiedTime(p, FileTime.fromMillis(mtimeS * 1000L))
    }
    def resetDirs(): Unit = {
      val it = JF.walk(Paths.get(srcRoot)).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (JF.isDirectory(p)) JF.setLastModifiedTime(p, FileTime.fromMillis(0L))
      }
    }
    val copied = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    def sync(): Unit = {
      val q = spark.readStream.format("graft-inventory").option("root", srcRoot).load()
        .filter(!org.apache.spark.sql.functions.col("is_folder"))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          import org.apache.spark.sql.functions.{broadcast, coalesce, col, concat, lit}
          import spark.implicits._
          // op 19: the distcp -filters exclusion, applied to THIS batch
          val kept = batch.filter(!col("name").rlike("\\.tmp$"))
          // op 23: broadcast identity remap with pass-through — owners
          // derive deterministically from the payload (u0 even / u1 odd
          // length), u0 is mapped, u1 is not
          val idm = Seq(("u0", "aad-u0")).toDF("source", "target")
          val inv = kept
            .withColumn("owner", concat(lit("u"), col("length") % 2))
            .join(broadcast(idm), col("owner") === col("source"), "left")
            .select(col("name"), col("parent_directory"), col("is_folder"),
              coalesce(col("target"), col("owner")).as("owner"),
              lit("g").as("grp"), lit("rwxr-x---").as("perms"), col("length"))
          val res = CopyExecutor.copyInventory(spark, inv, dstOps,
            parallelism = 2, source = Some(srcOps))
          val ok = res.collect()
          assert(ok.forall(_.getString(1) == "ok"),
            s"copy failures: ${ok.filter(_.getString(1) != "ok").mkString(",")}")
          copied.synchronized { copied += ok.map(_.getString(0)).toSeq }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    put("/a/x.dat", 300, 10); put("/a/y.dat", 5, 20); put("/b/z.dat", 77, 30)
    put("/a/skip.tmp", 10, 15) // excluded — rides wave 1's mtime range
    resetDirs()
    sync()
    val firstCopied = copied.flatten.toSet
    assert(firstCopied == Set("/a/x.dat", "/a/y.dat", "/b/z.dat"),
      s"backlog sync drifted: $firstCopied")
    copied.clear()

    put("/a/new.dat", 42, 40); put("/c/later.dat", 9, 50)
    put("/c/drop.tmp", 4, 45) // excluded — rides wave 2's delta
    resetDirs()
    sync()
    val deltaCopied = copied.flatten.toSet
    assert(deltaCopied == Set("/a/new.dat", "/c/later.dat"),
      s"delta sync copied the wrong set: $deltaCopied")

    // the exclusion held in BOTH waves: no .tmp ever landed
    assert(!JF.exists(Paths.get(s"$dstRoot/a/skip.tmp")) &&
      !JF.exists(Paths.get(s"$dstRoot/c/drop.tmp")),
      "excluded .tmp files leaked to the destination")
    // the remap ran per batch: mapped owner for even lengths (u0 ->
    // aad-u0), pass-through for odd (u1 unmapped)
    Seq("/a/x.dat" -> "aad-u0", "/a/new.dat" -> "aad-u0",
      "/a/y.dat" -> "u1", "/b/z.dat" -> "u1", "/c/later.dat" -> "u1")
      .foreach { case (rel, owner) =>
        val acl = new String(JF.readAllBytes(Paths.get(s"$dstRoot$rel.acl")), "UTF-8")
        assert(acl == s"$owner:g:rwxr-x---", s"$rel ownership sidecar drifted: $acl")
      }

    // byte-exactness of everything on the destination
    Seq("/a/x.dat" -> 300, "/a/y.dat" -> 5, "/b/z.dat" -> 77,
      "/a/new.dat" -> 42, "/c/later.dat" -> 9).foreach { case (rel, len) =>
      val src = JF.readAllBytes(Paths.get(s"$srcRoot$rel"))
      val dst = JF.readAllBytes(Paths.get(s"$dstRoot$rel"))
      assert(src.length == len && java.util.Arrays.equals(src, dst),
        s"$rel not byte-identical after streaming sync")
    }
  }
}
