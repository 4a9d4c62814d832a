package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.InventoryDataSource

/** The permissions-aware inventory source (r11): owner/grp/perms as real
  * FileStatus columns of the V2 schema, exact ownership pushdown, the V2
  * write path's setOwner/setPermission phase, and graftfs's server-side
  * ownership records (per-directory sidecars, hidden from listings).
  */
class OwnershipSourceSpec extends AnyFunSuite {

  /** fresh graftfs account over a temp backing dir; returns (rootUri, conf) */
  private def freshAccount(tag: String): (String, Map[String, String]) = {
    val backing = java.nio.file.Files.createTempDirectory(s"graft-own-$tag").toString
    val acct = tag + java.lang.Long.toUnsignedString(backing.hashCode.toLong & 0xffffffffL)
    val hc = Map(
      "fs.graftfs.impl" -> "graft.exec.GraftFsFileSystem",
      s"fs.graftfs.root.$acct" -> backing,
      "fs.graftfs.token.provider" -> "graft.exec.CountingTokenProvider")
    (s"graftfs://$acct/", hc)
  }

  private def hadoopFs(rootUri: String, hc: Map[String, String]) = {
    val conf = new Configuration()
    hc.foreach { case (k, v) => conf.set(k, v) }
    new Path(rootUri).getFileSystem(conf)
  }

  private def readOwned(rootUri: String, hc: Map[String, String]) = {
    val spark = TestSpark.spark
    hc.foldLeft(spark.read.format("graft-inventory").option("root", rootUri)) {
      case (r, (k, v)) => r.option("hadoop." + k, v)
    }.load()
  }

  private def writeTree(rootUri: String, hc: Map[String, String]): Unit = {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = Seq(
      ("/a/x.dat", false, 3L, "alice", "eng", "rw-r-----"),
      ("/a/y.dat", false, 5L, "bob", "eng", "rw-r--r--"),
      ("/b/z.dat", false, 7L, "alice", "ops", "rwxr-x---"),
      ("/b/w.dat", false, 11L, "carol", "ops", "rw-r--r--"))
      .toDF("name", "is_folder", "length", "owner", "grp", "perms")
    hc.foldLeft(rows.write.format("graft-inventory")
      .option("root", rootUri).mode("append")) {
      case (w, (k, v)) => w.option("hadoop." + k, v)
    }.save()
  }

  test("V2 write sets ownership; the scan reads it back off the FileStatus") {
    val (rootUri, hc) = freshAccount("rt")
    writeTree(rootUri, hc)
    val back = readOwned(rootUri, hc)
      .filter(!col("is_folder"))
      .select("name", "owner", "grp", "perms", "length")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    assert(back == Set(
      ("/a/x.dat", "alice", "eng", "rw-r-----", 3L),
      ("/a/y.dat", "bob", "eng", "rw-r--r--", 5L),
      ("/b/z.dat", "alice", "ops", "rwxr-x---", 7L),
      ("/b/w.dat", "carol", "ops", "rw-r--r--", 11L)), s"ownership drifted: $back")
    // entries never setOwner'd (the implicitly-created folders) surface
    // the store defaults — never nulls, never the local process user
    val dirs = readOwned(rootUri, hc).filter(col("is_folder"))
      .select("name", "owner", "grp", "perms")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    assert(dirs == Set(("/a", "graft", "graft", "rwxr-xr-x"),
      ("/b", "graft", "graft", "rwxr-xr-x")), s"folder defaults drifted: $dirs")
  }

  test("owner equality / IN / perms equality push down EXACTLY: walk-side drop, no residual Filter") {
    val (rootUri, hc) = freshAccount("px")
    writeTree(rootUri, hc)
    // equality
    InventoryDataSource.rowsEmitted.set(0L)
    val eq = readOwned(rootUri, hc).filter(col("owner") === "alice")
    val eqNames = eq.collect().map(_.getString(0)).toSet
    assert(eqNames == Set("/a/x.dat", "/b/z.dat"), s"owner equality drifted: $eqNames")
    assert(InventoryDataSource.rowsEmitted.get() == 2L,
      "owner equality not applied inside the walk")
    assert(eq.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.isEmpty, "owner equality left a residual post-scan Filter")
    // IN + grp conjunction
    InventoryDataSource.rowsEmitted.set(0L)
    val in = readOwned(rootUri, hc)
      .filter(col("owner").isin("alice", "carol") && col("grp") === "ops")
      .collect().map(_.getString(0)).toSet
    assert(in == Set("/b/z.dat", "/b/w.dat"), s"owner IN × grp drifted: $in")
    assert(InventoryDataSource.rowsEmitted.get() == 2L,
      "owner IN × grp not applied inside the walk")
    // perms probe (the world-readable audit shape)
    InventoryDataSource.rowsEmitted.set(0L)
    val rr = readOwned(rootUri, hc).filter(col("perms") === "rw-r--r--")
      .collect().map(_.getString(0)).toSet
    assert(rr == Set("/a/y.dat", "/b/w.dat"), s"perms equality drifted: $rr")
    assert(InventoryDataSource.rowsEmitted.get() == 2L,
      "perms equality not applied inside the walk")
  }

  test("aggregate pushdown grouped by an ownership column composes with pushed filters") {
    val (rootUri, hc) = freshAccount("ag")
    writeTree(rootUri, hc)
    val df = readOwned(rootUri, hc).filter(!col("is_folder"))
      .groupBy("grp").agg(count(lit(1)).as("n"), sum("length").as("bytes"))
    InventoryDataSource.rowsEmitted.set(0L)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("eng", 2L, 8L), ("ops", 2L, 18L)), s"grp rollup drifted: $got")
    // one partial row per (subtree-partition, grp): /a → eng, /b → ops
    assert(InventoryDataSource.rowsEmitted.get() == 2L,
      s"per-grp rollup leaked row-level rows: ${InventoryDataSource.rowsEmitted.get()}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), s"grp rollup not pushed:\n$plan")
  }

  test("graftfs ownership records: setOwner/setPermission persist; the sidecar never appears in listings") {
    val (rootUri, hc) = freshAccount("fs")
    val fs = hadoopFs(rootUri, hc)
    val f = new Path(rootUri + "d/file.dat")
    val out = fs.create(f, true); out.write(Array[Byte](1, 2, 3)); out.close()
    fs.setOwner(f, "dave", "research")
    fs.setPermission(f, FsPermission.valueOf("-rwx------"))
    val st = fs.getFileStatus(f)
    assert(st.getOwner == "dave" && st.getGroup == "research" &&
      st.getPermission.toString == "rwx------",
      s"ownership record drifted: ${st.getOwner}:${st.getGroup}:${st.getPermission}")
    // partial updates compose: a later setOwner must not clobber perms
    fs.setOwner(f, "erin", null)
    val st2 = fs.getFileStatus(f)
    assert(st2.getOwner == "erin" && st2.getGroup == "research" &&
      st2.getPermission.toString == "rwx------",
      s"partial setOwner clobbered: ${st2.getOwner}:${st2.getGroup}:${st2.getPermission}")
    // the sidecar is store metadata, not data: listings must not show it
    val names = fs.listStatus(new Path(rootUri + "d")).map(_.getPath.getName).toSet
    assert(names == Set("file.dat"), s"ownership sidecar leaked into listing: $names")
  }

  test("graftfs modes come from the ownership records, never from the backing files") {
    val (rootUri, hc) = freshAccount("pm")
    val backing = hc.collectFirst { case (k, v) if k.startsWith("fs.graftfs.root.") => v }.get
    val fs = hadoopFs(rootUri, hc)
    def mode(p: Path) = fs.getFileStatus(p).getPermission.toString
    def sidecar(dir: String): Set[String] = {
      val sc = java.nio.file.Paths.get(backing, dir, "_graftfs_owners")
      if (!java.nio.file.Files.exists(sc)) Set.empty
      else new String(java.nio.file.Files.readAllBytes(sc), "UTF-8").split("\n").toSet - ""
    }
    // entries made by create and by a nested mkdirs report the defaults
    val f = new Path(rootUri + "m/n/f.dat")
    assert(fs.mkdirs(new Path(rootUri + "m/n")))
    val out = fs.create(f, true); out.write(Array[Byte](1)); out.close()
    assert(mode(f) == "rw-r--r--" && mode(new Path(rootUri + "m")) == "rwxr-xr-x" &&
      mode(new Path(rootUri + "m/n")) == "rwxr-xr-x",
      s"default modes drifted: ${mode(f)} ${mode(new Path(rootUri + "m"))}")
    val listed = fs.listStatus(new Path(rootUri + "m")).map(_.getPermission.toString).toSeq
    assert(listed == Seq("rwxr-xr-x"), s"listed directory mode drifted: $listed")
    // whatever mode the local file has, the store answers from its record
    java.nio.file.Files.setPosixFilePermissions(java.nio.file.Paths.get(backing, "m/n/f.dat"),
      java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
    assert(mode(f) == "rw-r--r--", s"backing file mode leaked into the status: ${mode(f)}")
    // setOwner/setPermission persist in the parent's sidecar
    fs.setOwner(f, "dave", "research")
    fs.setPermission(f, FsPermission.valueOf("-rw-------"))
    assert(sidecar("m/n") == Set("f.dat\tdave\tresearch\trw-------"),
      s"ownership record not persisted: ${sidecar("m/n")}")
    assert(mode(f) == "rw-------")
    // an overwriting create drops the entry's record: defaults again
    val out2 = fs.create(f, true); out2.write(Array[Byte](2)); out2.close()
    assert(sidecar("m/n").isEmpty, s"overwrite kept the old record: ${sidecar("m/n")}")
    assert(fs.getFileStatus(f).getOwner == "graft" && mode(f) == "rw-r--r--")
  }

  test("ownership records follow renames and die with deletes (no stale-owner inheritance)") {
    val (rootUri, hc) = freshAccount("rn")
    val fs = hadoopFs(rootUri, hc)
    val a = new Path(rootUri + "d/a.dat"); val b = new Path(rootUri + "d/b.dat")
    val out = fs.create(a, true); out.write(Array[Byte](1)); out.close()
    fs.setOwner(a, "alice", "eng")
    // rename: the record moves with the entry
    assert(fs.rename(a, b))
    assert(fs.getFileStatus(b).getOwner == "alice", "record lost on rename")
    val names = fs.listStatus(new Path(rootUri + "d")).map(s => (s.getPath.getName, s.getOwner)).toMap
    assert(names == Map("b.dat" -> "alice"), s"rename left a stale record: $names")
    // delete then recreate at the same path: defaults, never alice
    assert(fs.delete(b, false))
    val out2 = fs.create(b, true); out2.write(Array[Byte](2)); out2.close()
    assert(fs.getFileStatus(b).getOwner == "graft",
      "a new file inherited a deleted entry's owner")
    // DIRECT overwrite (no delete): create(overwrite=true) over an owned
    // file must also drop the record — a recreated file is owned by its
    // creator (HDFS semantics; the r11 ADVICE gap)
    fs.setOwner(b, "bob", "ops")
    assert(fs.getFileStatus(b).getOwner == "bob")
    val out3 = fs.create(b, true); out3.write(Array[Byte](3)); out3.close()
    assert(fs.getFileStatus(b).getOwner == "graft",
      "an overwritten file inherited the previous owner")
    // FAILED create mutates nothing (HDFS semantics; the r12 ADVICE gap):
    // create(overwrite=false) over an existing owned file throws in the
    // delegate — the surviving file's ownership record must be intact
    fs.setOwner(b, "carol", "sec")
    intercept[java.io.IOException] { fs.create(b, false) }
    val st = fs.getFileStatus(b)
    assert(st.getOwner == "carol" && st.getGroup == "sec",
      s"a FAILED create wiped the ownership record: ${st.getOwner}:${st.getGroup}")
  }

  test("batched setOwnerships equals the per-entry path (merge, overwrite, missing entry)") {
    val (rootUri, hc) = freshAccount("bt")
    val fs = hadoopFs(rootUri, hc).asInstanceOf[graft.exec.GraftFsFileSystem]
    val dir = new Path(rootUri + "d")
    (1 to 3).foreach { i =>
      val out = fs.create(new Path(dir, s"f$i.dat"), true)
      out.write(Array[Byte](i.toByte)); out.close()
    }
    // per-entry record for f1, then a batch that updates f2/f3 — the
    // batch must MERGE into the existing sidecar, not replace it
    fs.setOwner(new Path(dir, "f1.dat"), "alice", "eng")
    fs.setOwnerships(dir, Seq(
      "f2.dat" -> (("bob", "ops", "rwxr-x---")),
      "f3.dat" -> (("carol", "eng", "rw-r--r--"))))
    val byName = fs.listStatus(dir)
      .map(s => s.getPath.getName -> ((s.getOwner, s.getGroup, s.getPermission.toString))).toMap
    assert(byName("f1.dat") == (("alice", "eng", "rw-r--r--")))
    assert(byName("f2.dat") == (("bob", "ops", "rwxr-x---")))
    assert(byName("f3.dat") == (("carol", "eng", "rw-r--r--")))
    // last-writer-wins inside and across batches, same as per-entry
    fs.setOwnerships(dir, Seq("f2.dat" -> (("dave", "ops", "rwxr-x---"))))
    assert(fs.getFileStatus(new Path(dir, "f2.dat")).getOwner == "dave")
    // a missing entry fails loudly (the per-entry path's contract)
    val e = intercept[IllegalArgumentException] {
      fs.setOwnerships(dir, Seq("nope.dat" -> (("x", "y", "rw-r--r--"))))
    }
    assert(e.getMessage.contains("missing entry"))
  }

  test("a runtime (DPP) filter on owner drops non-matching records inside the walk") {
    // "files owned by these principals" as a dimension join: the build
    // side evaluates first and hands the observed owners to the scan as
    // an IN filter. Ownership can't prune DESCENT (the walk still lists
    // everything), but the per-entry drop means only matching records
    // ship — rowsEmitted is the observable.
    val spark = TestSpark.spark
    import spark.implicits._
    val (rootUri, hc) = freshAccount("dp")
    writeTree(rootUri, hc)
    val dimPath = java.nio.file.Files.createTempDirectory("graft-own-dpp").toString + "/dim"
    Seq("alice", "zed").toDF("owner").write.parquet(dimPath)
    // file-backed + a selective predicate, or the PartitionPruning rule
    // never fires (a filtered LocalRelation constant-folds away first)
    val dim = spark.read.parquet(dimPath).filter(col("owner").startsWith("a"))
    val j = readOwned(rootUri, hc).join(dim, "owner")
    InventoryDataSource.rowsEmitted.set(0L)
    assert(j.count() == 2L, "owner-dimension join lost rows")
    assert(InventoryDataSource.rowsEmitted.get() == 2L,
      s"runtime owner filter did not drop inside the walk: " +
        s"emitted ${InventoryDataSource.rowsEmitted.get()} for 2 matches")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no DPP expression reached the scan:\n${plan.take(1500)}")
  }

  test("a typo'd column fails loudly at analysis, not deep in a writer") {
    val spark = TestSpark.spark
    import spark.implicits._
    val (rootUri, hc) = freshAccount("ty")
    val bad = Seq(("/x.dat", false, 1L, "alice"))
      .toDF("name", "is_folder", "length", "ownr") // typo: ownr
    val e = intercept[IllegalArgumentException] {
      hc.foldLeft(bad.write.format("graft-inventory").option("root", rootUri)
        .mode("append")) { case (w, (k, v)) => w.option("hadoop." + k, v) }.save()
    }
    assert(e.getMessage.contains("ownr"), s"unhelpful error: ${e.getMessage}")
  }

  test("random owned trees round-trip the V2 write→scan path exactly (fixed seed)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(20261111L)
    val owners = Seq("alice", "bob", "carol")
    val grps = Seq("eng", "ops")
    val permChoices = Seq("rw-r--r--", "rwxr-x---", "rw-------")
    (1 to 5).foreach { tree =>
      val (rootUri, hc) = freshAccount(s"rt$tree")
      // random dirs (owned or store-default), then files inside them
      val dirs = scala.collection.mutable.ArrayBuffer[String]("/d0")
      (1 to 1 + rnd.nextInt(5)).foreach { i =>
        val parent = dirs(rnd.nextInt(dirs.size))
        dirs += s"$parent/d$i"
      }
      def ownedOrDefault(isDir: Boolean): (String, String, String) =
        if (rnd.nextBoolean())
          (owners(rnd.nextInt(owners.size)), grps(rnd.nextInt(grps.size)),
            permChoices(rnd.nextInt(permChoices.size)))
        else ("graft", "graft", if (isDir) "rwxr-xr-x" else "rw-r--r--")
      val dirRows = dirs.toSeq.map { d =>
        val (o, g, p) = ownedOrDefault(isDir = true)
        (d, true, 0L, o, g, p)
      }
      val fileRows = (0 until 5 + rnd.nextInt(20)).map { i =>
        val d = dirs(rnd.nextInt(dirs.size))
        val (o, g, p) = ownedOrDefault(isDir = false)
        (s"$d/f$i.dat", false, rnd.nextInt(50).toLong, o, g, p)
      }
      val rows = dirRows ++ fileRows
      val df = rows.toDF("name", "is_folder", "length", "owner", "grp", "perms")
      hc.foldLeft(df.write.format("graft-inventory").option("root", rootUri)
        .mode("append")) { case (w, (k, v)) => w.option("hadoop." + k, v) }.save()
      val back = readOwned(rootUri, hc)
        .select("name", "is_folder", "length", "owner", "grp", "perms")
        .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
          r.getString(3), r.getString(4), r.getString(5))).toSet
      // default-owned rows read back as the store defaults they were
      // written as, owned rows as written — the set must be EXACT
      assert(back == rows.toSet,
        s"tree=$tree round trip drifted\nmissing=${rows.toSet -- back}\nextra=${back -- rows.toSet}")
    }
  }

  test("projection pruning keeps ownership unmaterialized (ReadSchema excludes the trio)") {
    val (rootUri, hc) = freshAccount("pr")
    writeTree(rootUri, hc)
    val df = readOwned(rootUri, hc).select("name", "length")
    val scanOut = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.output.map(_.name)
    }.flatten
    assert(scanOut.toSet == Set("name", "length"),
      s"ownership columns not pruned from the scan output: $scanOut")
    assert(df.collect().length == 6) // 4 files + 2 folders
  }
}
