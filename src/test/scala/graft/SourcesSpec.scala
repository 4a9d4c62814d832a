package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.RefFixtures
import graft.sources.Sources

/** round-trips for the non-parquet sources (ops 1/3/6/7) */
class SourcesSpec extends AnyFunSuite {

  test("json array source round-trips ACL records with explicit schema (op 7)") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-json").toString
    val acl = RefFixtures.aclRecords(spark, TestSpark.Sf).limit(200)
      .withColumnRenamed("grp", "group")
    acl.coalesce(1).write.mode("overwrite").json(s"$tmp/acl")
    // line-delimited written by Spark; also exercise the multiLine array form
    val lines = acl.toJSON.collect()
    Files.writeString(Paths.get(s"$tmp/acl_array.json"),
      lines.mkString("[", ",\n", "]"))
    val got = Sources.readJsonArray(spark, s"$tmp/acl_array.json", Sources.AclSchema)
    assert(got.count() == 200)
    assert(got.select("file", "owner", "group").except(
      acl.select("file", "owner", "group")).count() == 0)
    assert(got.schema == Sources.AclSchema)
  }

  test("filelist source reads one path per line (op 6)") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-filelist").toString
    val paths = (1 to 50).map(i => s"/data/part=$i/file-$i.dat")
    Files.writeString(Paths.get(s"$tmp/filelist1"), paths.mkString("\n"))
    val got = Sources.readFilelist(spark, s"$tmp/filelist1")
    assert(got.count() == 50)
    assert(got.orderBy("path").collect().map(_.getString(0)).toSeq == paths.sorted)
  }

  test("csv source round-trips the identity map with explicit schema") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-csv").toString
    val idm = RefFixtures.identityMap(spark, TestSpark.Sf)
    idm.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$tmp/idmap")
    val got = spark.read
      .schema("itype STRING, source STRING, target STRING")
      .option("header", "true").csv(s"$tmp/idmap")
    assert(got.count() == idm.count())
    assert(got.except(idm).count() == 0 && idm.except(got).count() == 0)
  }

  test("orc source/sink round-trips the inventory projection losslessly") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-orc").toString
    val inv = SparkEntry.queries("inv_projection")(spark, TestSpark.Sf)
    inv.write.mode("overwrite").orc(s"$tmp/inv")
    val got = spark.read.orc(s"$tmp/inv")
    // ORC (like parquet) reads everything nullable; names/types must hold
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      inv.schema.map(f => (f.name, f.dataType)), "orc round-trip changed the schema")
    assert(got.count() == inv.count())
    assert(got.except(inv).count() == 0 && inv.except(got).count() == 0)
    // predicate pushdown reaches the ORC scan too (same lever as parquet)
    val p = got.filter(col("length") > 1000000L).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") && p.contains("length"),
      s"no pushed filter on the orc scan:\n$p")
  }

  test("binaryFile listing scans a directory tree with content (op 3)") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-bin").toString
    Files.createDirectories(Paths.get(s"$tmp/a/b"))
    Files.write(Paths.get(s"$tmp/a/x.dat"), "hello".getBytes)
    Files.write(Paths.get(s"$tmp/a/b/y.dat"), "world!".getBytes)
    val got = Sources.binaryListing(spark, tmp, "*.dat")
    val rows = got.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows.size == 2)
    assert(rows.exists { case (p, l) => p.endsWith("x.dat") && l == 5 })
    assert(rows.exists { case (p, l) => p.endsWith("y.dat") && l == 6 })
  }

  test("filters-file exclusion equals the inline regex predicate (op 19, distcp -filters)") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-filters").toString
    Files.writeString(Paths.get(s"$tmp/filters"),
      """# cluster state dirs, not worth copying
        |.*part=1[0-9]/.*
        |
        |.*-3\.dat$
        |""".stripMargin)
    val inv = RefFixtures.inventory(spark, TestSpark.Sf)
    val viaFile = inv.filter(
      Sources.exclusionFilter(spark, s"$tmp/filters", col("name")))
    val inline = inv.filter(
      !col("name").rlike(".*part=1[0-9]/.*") && !col("name").rlike(".*-3\\.dat$"))
    assert(viaFile.count() == inline.count())
    assert(viaFile.count() < inv.count()) // the filter actually bites
    assert(viaFile.select("name").except(inline.select("name")).count() == 0)
  }

  test("pruned usage scan stops descending into fitting dirs yet covers every file (op 1 cutoff)") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-prune").toString
    // small/ fits any reasonable capacity; big/ must be opened, its child
    // big/inner fits on its own; loose files sit beside the dirs
    Files.createDirectories(Paths.get(s"$tmp/t/small"))
    Files.createDirectories(Paths.get(s"$tmp/t/big/inner"))
    Files.write(Paths.get(s"$tmp/t/small/a.dat"), ("x" * 10).getBytes)
    Files.write(Paths.get(s"$tmp/t/small/b.dat"), ("x" * 20).getBytes)
    (1 to 4).foreach { i =>
      Files.write(Paths.get(s"$tmp/t/big/f$i.dat"), ("x" * 40).getBytes)
    }
    Files.write(Paths.get(s"$tmp/t/big/inner/g.dat"), ("x" * 30).getBytes)
    Files.write(Paths.get(s"$tmp/t/loose.dat"), ("x" * 5).getBytes)

    val capacity = 100L // small (30) and big/inner (30) fit; big (190) and t (225) don't
    val pruned = Sources.usageScanPruned(spark, Seq(s"$tmp/t"), capacity)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val prunedDirs = pruned.filter(_._3).map(p => p._1 -> p._2).toMap
    assert(prunedDirs == Map(s"$tmp/t/small" -> 30L, s"$tmp/t/big/inner" -> 30L))
    // files under oversized dirs are emitted individually
    val looseFiles = pruned.filterNot(_._3).map(p => p._1 -> p._2).toMap
    assert(looseFiles.keySet == Set(s"$tmp/t/loose.dat",
      s"$tmp/t/big/f1.dat", s"$tmp/t/big/f2.dat", s"$tmp/t/big/f3.dat", s"$tmp/t/big/f4.dat"))

    // property: pruned and unpruned scans agree — every file counted
    // exactly once, same grand total, and each pruned dir's size equals
    // the full scan's rollup beneath it
    val full = Sources.usageScan(spark, Seq(s"$tmp/t"))
      .filter(!col("is_dir")).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(pruned.map(_._2).sum == full.map(_._2).sum)
    prunedDirs.foreach { case (dir, size) =>
      assert(full.filter(_._1.startsWith(dir + "/")).map(_._2).sum == size)
    }
    // and first-fit packing over pruned entries equals packing over the
    // same entries derived from the full scan (the reference's guarantee:
    // the cutoff changes listing cost, not assignments)
    val fromPruned = pruned.map(p => (p._1, p._2)).sortBy(_._1).toSeq
    val rollup = full.groupBy { case (p, _) =>
      prunedDirs.keys.find(d => p.startsWith(d + "/")).getOrElse(p)
    }.map { case (k, vs) => (k, vs.map(_._2).sum) }.toSeq.sortBy(_._1)
    assert(graft.operators.PackingOps.firstFit(fromPruned, capacity) ==
      graft.operators.PackingOps.firstFit(rollup, capacity))
  }

  test("distributed usage scan walks subtrees and aggregates du (op 1)") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-du").toString
    (1 to 4).foreach { d =>
      Files.createDirectories(Paths.get(s"$tmp/d$d/.snapshot"))
      (1 to 3).foreach { f =>
        Files.write(Paths.get(s"$tmp/d$d/f$f.dat"), ("x" * (10 * f)).getBytes)
      }
      Files.write(Paths.get(s"$tmp/d$d/.snapshot/s.dat"), "snap".getBytes)
    }
    val scan = Sources.usageScan(spark, (1 to 4).map(d => s"$tmp/d$d"),
      exclude = _.contains("/.snapshot"))
    val files = scan.filter(!col("is_dir"))
    assert(files.count() == 12) // snapshots excluded
    val du = Sources.directoryUsage(scan).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    (1 to 4).foreach { d =>
      assert(du(s"$tmp/d$d") == 60) // 10+20+30
    }
  }

  test("json quarantine ingestion: torn lines route to quarantine, good rows parse") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonq")
    val f = dir.resolve("feed.jsonl")
    java.nio.file.Files.writeString(f,
      """{"id": 1, "name": "alpha"}
        |{"id": 2, "name": "beta"}
        |{"id": 3, "name": TORN
        |not json at all
        |{"id": 4, "name": "delta"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType)))
    val (good, bad) = Sources.readJsonQuarantine(spark, f.toString, schema)
    val ids = good.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 4L), s"good rows wrong: $ids")
    val lines = bad.collect().map(_.getString(0))
    assert(lines.length == 2, s"expected 2 quarantined lines, got ${lines.toSeq}")
    assert(lines.exists(_.contains("TORN")) && lines.exists(_.contains("not json")))
  }

  test("csv quarantine ingestion: quoting honored, malformed rows route to quarantine") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-csvq")
    val f = dir.resolve("feed.csv")
    // doubled CSV quotes collide with Scala triple-quote syntax — plain
    // escaped literals per line instead
    java.nio.file.Files.writeString(f, Seq(
      "id,name,score",
      "1,\"alpha, the first\",10",
      "2,\"say \"\"hi\"\"\",20",
      "3,unquoted,not_a_number",
      "4,delta,40").mkString("", "\n", "\n"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.LongType)))
    val (good, bad) = Sources.readCsvQuarantine(spark, f.toString, schema)
    val rows = good.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // embedded delimiter and escaped quotes must survive the parse
    assert(rows == Set((1L, "alpha, the first", 10L), (2L, "say \"hi\"", 20L),
      (4L, "delta", 40L)), s"good rows wrong: $rows")
    val lines = bad.collect().map(_.getString(0))
    assert(lines.length == 1 && lines.head.contains("not_a_number"),
      s"quarantine wrong: ${lines.toSeq}")
  }

  private def buildTree(): String = {
    val tmp = Files.createTempDirectory("graft-dsv2").toString
    // /a/{x.dat(3), y.dat(5)}, /a/sub/{z.dat(7)}, /b/{w.dat(11)}, /top.dat(2)
    Files.createDirectories(Paths.get(s"$tmp/a/sub"))
    Files.createDirectories(Paths.get(s"$tmp/b"))
    Files.write(Paths.get(s"$tmp/a/x.dat"), Array.fill(3)(1.toByte))
    Files.write(Paths.get(s"$tmp/a/y.dat"), Array.fill(5)(1.toByte))
    Files.write(Paths.get(s"$tmp/a/sub/z.dat"), Array.fill(7)(1.toByte))
    Files.write(Paths.get(s"$tmp/b/w.dat"), Array.fill(11)(1.toByte))
    Files.write(Paths.get(s"$tmp/top.dat"), Array.fill(2)(1.toByte))
    tmp
  }

  test("graft-inventory DSv2: full recursive read lists every file and folder") {
    val spark = TestSpark.spark
    val tmp = buildTree()
    val got = spark.read.format("graft-inventory").option("root", tmp).load()
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
      .toSet
    val expect = Set(
      ("/a", "/", true, 0L), ("/b", "/", true, 0L), ("/top.dat", "/", false, 2L),
      ("/a/x.dat", "/a", false, 3L), ("/a/y.dat", "/a", false, 5L),
      ("/a/sub", "/a", true, 0L), ("/a/sub/z.dat", "/a/sub", false, 7L),
      ("/b/w.dat", "/b", false, 11L))
    assert(got == expect, s"inventory drifted: $got")
  }

  test("graft-inventory DSv2: prefix pushdown prunes the tree walk itself") {
    val spark = TestSpark.spark
    import graft.sources.InventoryDataSource
    val tmp = buildTree()
    def read() = spark.read.format("graft-inventory").option("root", tmp).load()
    // full scan lists: root (planning) + root (reader) + /a + /a/sub + /b
    InventoryDataSource.dirsListed.set(0L)
    read().collect()
    val fullListed = InventoryDataSource.dirsListed.get()
    InventoryDataSource.dirsListed.set(0L)
    val pruned = read().filter(col("parent_directory").startsWith("/a"))
    InventoryDataSource.rowsEmitted.set(0L)
    val rows = pruned.collect().map(_.getString(0)).toSet
    val prunedListed = InventoryDataSource.dirsListed.get()
    val emitted = InventoryDataSource.rowsEmitted.get()
    assert(rows == Set("/a/x.dat", "/a/y.dat", "/a/sub", "/a/sub/z.dat"))
    assert(prunedListed < fullListed,
      s"pushdown did not prune the walk: $prunedListed vs $fullListed")
    // the walk applies the prefix EXACTLY per entry, so (a) the source
    // never emits a non-matching row and (b) the filter is CLAIMED — it
    // appears in the scan's PushedFilters and is NOT re-evaluated by a
    // post-scan Filter node (the exactness contract that lets aggregate
    // pushdown compose with a prefix-filtered scan)
    assert(emitted == 4L, s"source emitted non-matching rows: $emitted")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith(parent_directory"),
      s"prefix filter missing from PushedFilters:\n$plan")
    val residual = plan.linesIterator
      .filter(l => l.contains("Filter ") && l.toLowerCase.contains("startswith"))
    assert(residual.isEmpty,
      s"exactly-applied prefix filter was left residual:\n$plan")
    // multiple prefixes are a conjunction — all applied, still exact
    InventoryDataSource.rowsEmitted.set(0L)
    val two = read()
      .filter(col("parent_directory").startsWith("/a") &&
        col("parent_directory").startsWith("/a/sub"))
      .collect().map(_.getString(0)).toSet
    assert(two == Set("/a/sub/z.dat"), s"multi-prefix conjunction drifted: $two")
    assert(InventoryDataSource.rowsEmitted.get() == 1L,
      "multi-prefix walk emitted rows matching only one prefix")
  }

  test("graft-inventory DSv2: write path materializes a tree that reads back identically") {
    val spark = TestSpark.spark
    import spark.implicits._
    val out = Files.createTempDirectory("graft-dsv2-w").toString
    val rows = Seq(
      ("/d1", "/", true, 0L, 0L),
      ("/d1/a.dat", "/d1", false, 100L, 0L),
      ("/d1/b.dat", "/d1", false, 7L, 0L),
      ("/d2", "/", true, 0L, 0L),
      ("/d2/c.dat", "/d2", false, 0L, 0L))
      .toDF("name", "parent_directory", "is_folder", "length", "mtime_ms")
    rows.write.format("graft-inventory").option("root", out).mode("append").save()
    val back = spark.read.format("graft-inventory").option("root", out).load()
      .select("name", "parent_directory", "is_folder", "length")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
      .toSet
    val expect = rows.collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getLong(3))).toSet
    assert(back == expect, s"V2 write→read round trip drifted: $back")
  }

  test("graft-inventory DSv2: aggregate pushdown folds the walk into one partial row per (partition, group)") {
    val spark = TestSpark.spark
    import graft.sources.InventoryDataSource
    val tmp = buildTree()
    def read() = spark.read.format("graft-inventory").option("root", tmp).load()
    val df = read().groupBy("parent_directory")
      .agg(count(lit(1)).as("n"), sum("length").as("bytes"), max("length").as("max_b"))
    InventoryDataSource.rowsEmitted.set(0L)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val emitted = InventoryDataSource.rowsEmitted.get()
    assert(got == Set(("/", 3L, 2L, 2L), ("/a", 3L, 8L, 5L),
      ("/a/sub", 1L, 7L, 7L), ("/b", 1L, 11L, 11L)), s"rollup drifted: $got")
    // the tree has 8 entries; partials are per (partition, group):
    // "/" own-files (1 group) + /a subtree (/a, /a/sub) + /b subtree (1)
    assert(emitted == 4L, s"source leaked row-level rows: emitted $emitted")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), s"aggregation not pushed:\n$plan")
    // composition: an EXACTLY-pushed filter (the walk applies length
    // ranges per entry, folders carry length 0) no longer blocks the
    // aggregate — filter + rollup both fold into the walk, and the
    // per-group partial shape survives (one row per non-empty group)
    val filtered = read().filter(col("length") > 0L)
      .groupBy("parent_directory").agg(count(lit(1)).as("n"))
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(fplan.contains("PushedAggregation"),
      s"aggregate did not compose with the exactly-pushed filter:\n$fplan")
    InventoryDataSource.rowsEmitted.set(0L)
    val fgot = filtered.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(fgot == Set(("/", 1L), ("/a", 2L), ("/a/sub", 1L), ("/b", 1L)))
    assert(InventoryDataSource.rowsEmitted.get() == 4L,
      "filtered aggregate leaked row-level rows")
    // exactness guard: a filter the walk CANNOT apply exactly (name
    // suffix) stays residual, and the aggregation must NOT jump it —
    // Spark's rule declines (post-scan filters present) and the builder's
    // own best-effort guard backstops it
    val resid = read().filter(col("name").endsWith(".dat"))
      .groupBy("parent_directory").agg(count(lit(1)).as("n"))
    val rplan = resid.queryExecution.executedPlan.toString
    assert(!rplan.contains("PushedAggregation"),
      s"aggregate jumped a residual filter:\n$rplan")
    val rgot = resid.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rgot == Set(("/", 1L), ("/a", 2L), ("/a/sub", 1L), ("/b", 1L)))
  }

  test("graft-inventory DSv2: parent_directory equality and IN push exactly and prune descent") {
    val spark = TestSpark.spark
    import graft.sources.InventoryDataSource
    val tmp = buildTree()
    def read() = spark.read.format("graft-inventory").option("root", tmp).load()
    // unfiltered baseline listing count, then: equality on /a must list
    // strictly fewer directories (the /b subtree is never opened)
    InventoryDataSource.dirsListed.set(0L)
    read().collect()
    val fullListed = InventoryDataSource.dirsListed.get()
    InventoryDataSource.dirsListed.set(0L)
    InventoryDataSource.rowsEmitted.set(0L)
    val eq = read().filter(col("parent_directory") === "/a")
    val eqRows = eq.collect().map(_.getString(0)).toSet
    assert(eqRows == Set("/a/x.dat", "/a/y.dat", "/a/sub"), s"eq drifted: $eqRows")
    assert(InventoryDataSource.rowsEmitted.get() == 3L,
      "equality left non-matching rows to a residual filter")
    assert(InventoryDataSource.dirsListed.get() < fullListed,
      s"equality did not prune the walk: ${InventoryDataSource.dirsListed.get()} vs $fullListed")
    // IN: multiple exact directories, one scan; composes with the rollup
    InventoryDataSource.rowsEmitted.set(0L)
    val in = read().filter(col("parent_directory").isin("/a", "/b"))
      .groupBy("parent_directory").agg(count(lit(1)).as("n"), sum("length").as("b"))
    val got = in.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("/a", 3L, 8L), ("/b", 1L, 11L)), s"IN rollup drifted: $got")
    assert(in.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "IN-filtered rollup lost the aggregate pushdown")
    assert(InventoryDataSource.rowsEmitted.get() == 2L,
      "IN rollup leaked row-level rows")
  }

  test("graft-inventory DSv2: mtime range pushdown is exact (incremental-rescan watermark)") {
    val spark = TestSpark.spark
    import graft.sources.InventoryDataSource
    val tmp = buildTree()
    // deterministic mtimes: /a/x.dat=10s, /a/y.dat=20s, /a/sub/z.dat=30s,
    // /b/w.dat=40s, /top.dat=50s
    Seq("a/x.dat" -> 10L, "a/y.dat" -> 20L, "a/sub/z.dat" -> 30L,
      "b/w.dat" -> 40L, "top.dat" -> 50L).foreach { case (rel, s) =>
      Files.setLastModifiedTime(Paths.get(s"$tmp/$rel"),
        java.nio.file.attribute.FileTime.fromMillis(s * 1000L))
    }
    val df = spark.read.format("graft-inventory").option("root", tmp).load()
      .filter(!col("is_folder") && col("mtime_ms") >= 25000L && col("mtime_ms") < 45000L)
    InventoryDataSource.rowsEmitted.set(0L)
    val rows = df.collect().map(_.getString(0)).toSet
    assert(rows == Set("/a/sub/z.dat", "/b/w.dat"), s"watermark scan drifted: $rows")
    // exactness: the walk emits ONLY matching entries (both range bounds
    // and the files-only equality applied per entry, no residual filter)
    assert(InventoryDataSource.rowsEmitted.get() == 2L,
      "mtime watermark left non-matching rows to a residual filter")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(mtime_ms"),
      s"mtime filter missing from PushedFilters:\n$plan")
  }

  test("graft-inventory DSv2: micro-batch stream delivers each entry exactly once across checkpointed runs") {
    val spark = TestSpark.spark
    val tmp = buildTree()
    // deterministic mtimes; folders pinned to 0 so file writes can't move
    // the watermark past later waves
    Seq("a/x.dat" -> 10L, "a/y.dat" -> 20L, "a/sub/z.dat" -> 30L,
      "b/w.dat" -> 40L, "top.dat" -> 50L).foreach { case (rel, s) =>
      Files.setLastModifiedTime(Paths.get(s"$tmp/$rel"),
        java.nio.file.attribute.FileTime.fromMillis(s * 1000L))
    }
    def resetDirs(): Unit =
      Seq("", "/a", "/a/sub", "/b").foreach(d =>
        Files.setLastModifiedTime(Paths.get(s"$tmp$d"),
          java.nio.file.attribute.FileTime.fromMillis(0L)))
    resetDirs()
    val ckpt = Files.createTempDirectory("graft-inv-ckpt").toString
    val outBase = Files.createTempDirectory("graft-inv-out").toString
    var n = 0
    // memory sink refuses checkpoint recovery, so each drain lands its
    // batches in its own parquet dir via foreachBatch (recovery-capable) —
    // the per-run delta is then directly readable
    def drain(): Set[(String, Long)] = {
      n += 1
      val out = s"$outBase/run$n"
      val q = spark.readStream.format("graft-inventory").option("root", tmp).load()
        .filter(!col("is_folder"))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      if (!Files.exists(Paths.get(out))) Set.empty
      else spark.read.parquet(out).collect()
        .map(r => (r.getString(0), r.getLong(3))).toSet
    }
    // run 1: everything on disk is "the backlog"
    val first = drain()
    assert(first == Set(("/a/x.dat", 3L), ("/a/y.dat", 5L), ("/a/sub/z.dat", 7L),
      ("/b/w.dat", 11L), ("/top.dat", 2L)), s"first drain drifted: $first")
    // a re-run with NOTHING new delivers nothing (watermark in checkpoint)
    assert(drain().isEmpty, "idle re-run re-delivered old entries")
    // wave 2: one new file past the watermark → ONLY it arrives
    Files.write(Paths.get(s"$tmp/a/new.dat"), Array.fill(13)(1.toByte))
    Files.setLastModifiedTime(Paths.get(s"$tmp/a/new.dat"),
      java.nio.file.attribute.FileTime.fromMillis(60000L))
    resetDirs()
    val second = drain()
    assert(second == Set(("/a/new.dat", 13L)),
      s"incremental drain did not deliver exactly the delta: $second")
    // offset round-trip: the watermark survives serialization
    val scan = spark.readStream.format("graft-inventory").option("root", tmp).load()
    assert(scan.isStreaming, "inventory readStream is not a streaming frame")
  }

  test("graft-inventory DSv2: maxFilesPerTrigger drains the backlog in bounded micro-batches") {
    val spark = TestSpark.spark
    val tmp = buildTree()
    Seq("a/x.dat" -> 10L, "a/y.dat" -> 20L, "a/sub/z.dat" -> 30L,
      "b/w.dat" -> 40L, "top.dat" -> 50L).foreach { case (rel, s) =>
      Files.setLastModifiedTime(Paths.get(s"$tmp/$rel"),
        java.nio.file.attribute.FileTime.fromMillis(s * 1000L))
    }
    Seq("", "/a", "/a/sub", "/b").foreach(d =>
      Files.setLastModifiedTime(Paths.get(s"$tmp$d"),
        java.nio.file.attribute.FileTime.fromMillis(0L)))
    val ckpt = Files.createTempDirectory("graft-inv-ckpt-adm").toString
    val out = Files.createTempDirectory("graft-inv-out-adm").toString + "/rows"
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-inventory").option("root", tmp)
      .option("maxFilesPerTrigger", "2").load()
      .filter(!col("is_folder"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        sizes.synchronized { sizes += batch.count() }
        batch.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(out).collect().map(_.getString(0)).toSet
    // complete + exactly-once, in bounded slices: 5 files at 2/trigger =
    // batches of (2, 2, 1) — folder rows share batches but don't count as
    // the files-only filter drops them before the sink. Folder entries DO
    // occupy mtime slots (mtime 0 rides batch 1), so sizes are <= 2 + ties
    val nonEmpty = sizes.filter(_ > 0)
    assert(got == Set("/a/x.dat", "/a/y.dat", "/a/sub/z.dat", "/b/w.dat", "/top.dat"),
      s"bounded drain lost or duplicated entries: $got")
    assert(nonEmpty.size >= 3, s"expected >= 3 bounded batches, got $sizes")
    assert(nonEmpty.forall(_ <= 2L), s"a batch exceeded maxFilesPerTrigger: $sizes")
  }

  test("graft-inventory DSv2: bounded drain over a minPartitions split folds offsets exactly once") {
    // the billion-file-backlog configuration: maxFilesPerTrigger over a
    // split plan — each batch's top-n-mtime offset fold runs in four
    // subtree-group tasks (own files of /, /a and /b, plus /a/sub) whose
    // heads merge by tree reduce; delivery must stay exactly-once and
    // every batch within the bound
    val spark = TestSpark.spark
    val tmp = buildTree()
    Seq("a/x.dat" -> 10L, "a/y.dat" -> 20L, "a/sub/z.dat" -> 30L,
      "b/w.dat" -> 40L, "top.dat" -> 50L).foreach { case (rel, s) =>
      Files.setLastModifiedTime(Paths.get(s"$tmp/$rel"),
        java.nio.file.attribute.FileTime.fromMillis(s * 1000L))
    }
    Seq("", "/a", "/a/sub", "/b").foreach(d =>
      Files.setLastModifiedTime(Paths.get(s"$tmp$d"),
        java.nio.file.attribute.FileTime.fromMillis(0L)))
    val ckpt = Files.createTempDirectory("graft-inv-ckpt-split").toString
    val out = Files.createTempDirectory("graft-inv-out-split").toString + "/rows"
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-inventory").option("root", tmp)
      .option("maxFilesPerTrigger", "2")
      .option("minPartitions", "4").load()
      .filter(!col("is_folder"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        sizes.synchronized { sizes += batch.count() }
        batch.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(out).collect().map(_.getString(0)).toSet
    assert(got == Set("/a/x.dat", "/a/y.dat", "/a/sub/z.dat", "/b/w.dat", "/top.dat"),
      s"split bounded drain lost or duplicated entries: $got")
    val nonEmpty = sizes.filter(_ > 0)
    assert(nonEmpty.size >= 3 && nonEmpty.forall(_ <= 2L),
      s"split bounded drain batch shape drifted: $sizes")
  }

  test("graft-inventory DSv2: the admission bound counts entries — folder rows occupy interleaved mtime slots") {
    // folder mtimes BETWEEN file mtimes (the shape the earlier tests
    // didn't cover): folder rows are data rows of this source, so the
    // documented bound is entries-per-trigger — every batch holds at most
    // n entries (files + folders), delivery stays complete and
    // exactly-once, and folders ride the slice their mtime falls in.
    val spark = TestSpark.spark
    val tmp = buildTree()
    Seq("a/x.dat" -> 10L, "a/y.dat" -> 20L, "a/sub/z.dat" -> 30L,
      "b/w.dat" -> 40L, "top.dat" -> 50L).foreach { case (rel, s) =>
      Files.setLastModifiedTime(Paths.get(s"$tmp/$rel"),
        java.nio.file.attribute.FileTime.fromMillis(s * 1000L))
    }
    // /a=15s, /a/sub=25s, /b=35s — interleaved; root pinned low
    Seq("" -> 0L, "/a" -> 15L, "/a/sub" -> 25L, "/b" -> 35L).foreach { case (d, s) =>
      Files.setLastModifiedTime(Paths.get(s"$tmp$d"),
        java.nio.file.attribute.FileTime.fromMillis(s * 1000L))
    }
    val ckpt = Files.createTempDirectory("graft-inv-ckpt-ent").toString
    val out = Files.createTempDirectory("graft-inv-out-ent").toString + "/rows"
    val q = spark.readStream.format("graft-inventory").option("root", tmp)
      .option("maxFilesPerTrigger", "2").load()   // NO files-only filter: observe entries
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.withColumn("batch", lit(id)).write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("batch"))).toSeq
    // complete + exactly-once over ALL 8 entries
    assert(rows.map(_._1).sorted == Seq("/a", "/a/sub", "/a/sub/z.dat", "/a/x.dat",
      "/a/y.dat", "/b", "/b/w.dat", "/top.dat"), s"entry delivery drifted: $rows")
    // every batch ≤ 2 entries, and batch assignment follows mtime order:
    // (10,15)(20,25)(30,35)(40,50) — folders in the middle of slices
    val byBatch = rows.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byBatch.values.forall(_.size <= 2), s"a batch exceeded the entry bound: $byBatch")
    val batchOf = rows.map { case (n, b) => n -> b }.toMap
    assert(batchOf("/a") == batchOf("/a/x.dat"), s"folder /a missed its mtime slice: $byBatch")
    assert(batchOf("/a/sub") == batchOf("/a/y.dat"), s"folder /a/sub missed its slice: $byBatch")
    assert(batchOf("/b") == batchOf("/a/sub/z.dat"), s"folder /b missed its slice: $byBatch")
  }

  test("graft-inventory DSv2: the offset fold sends no entry through a reader") {
    val spark = TestSpark.spark
    import graft.sources.InventoryDataSource
    val tmp = buildTree()
    Seq("a/x.dat" -> 10L, "a/y.dat" -> 20L, "a/sub/z.dat" -> 30L,
      "b/w.dat" -> 40L, "top.dat" -> 50L).foreach { case (rel, s) =>
      Files.setLastModifiedTime(Paths.get(s"$tmp/$rel"),
        java.nio.file.attribute.FileTime.fromMillis(s * 1000L))
    }
    Seq("", "/a", "/a/sub", "/b").foreach(d =>
      Files.setLastModifiedTime(Paths.get(s"$tmp$d"),
        java.nio.file.attribute.FileTime.fromMillis(0L)))
    val ckpt = Files.createTempDirectory("graft-inv-ckpt-dist").toString
    val out = Files.createTempDirectory("graft-inv-out-dist").toString + "/rows"
    // the watermark comes from the offset fold, which reduces each
    // subtree group to its largest mtime inside the task: no offset
    // computation may hand a single row to Spark
    InventoryDataSource.rowsEmitted.set(0L)
    val q = spark.readStream.format("graft-inventory").option("root", tmp).load()
      .filter(!col("is_folder"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(out).collect().map(_.getString(0)).toSet
    assert(got == Set("/a/x.dat", "/a/y.dat", "/a/sub/z.dat", "/b/w.dat", "/top.dat"),
      s"unbounded drain drifted: $got")
    // the batch itself delivers all 8 tree entries (folders drop at the
    // post-scan filter), and those are the only rows any reader emits —
    // prepare, per-batch and final no-more-data offsets all fold in tasks
    val emitted = InventoryDataSource.rowsEmitted.get()
    assert(emitted == 8L, s"offset computation leaked rows through a reader: $emitted")
  }

  test("graft-inventory DSv2: pushed partial SUM surfaces Long overflow instead of wrapping") {
    import graft.sources.InventoryDataSource
    // the walk-side accumulator must match the unpushed ANSI plan's
    // ARITHMETIC_OVERFLOW behavior, never wrap silently (sum(mtime_ms)
    // crosses Long.MaxValue around 5M files per group at real scale)
    assert(InventoryDataSource.addExactSum(Long.MaxValue - 5L, 5L, "mtime_ms")
      == Long.MaxValue)
    val ex = intercept[ArithmeticException] {
      InventoryDataSource.addExactSum(Long.MaxValue, 1L, "mtime_ms")
    }
    assert(ex.getMessage.contains("SUM(mtime_ms)"), ex.getMessage)
  }

  test("graft-inventory DSv2: name prefix pushdown is exact and prunes descent") {
    val spark = TestSpark.spark
    import graft.sources.InventoryDataSource
    val tmp = buildTree()
    // baseline: the unfiltered scan's listing cost
    InventoryDataSource.dirsListed.set(0L)
    spark.read.format("graft-inventory").option("root", tmp).load().collect()
    val fullListed = InventoryDataSource.dirsListed.get()
    // name STARTS WITH '/a/sub' — the anchored-exclusion shape: must
    // return the folder row AND its file, list only compatible dirs, and
    // emit nothing extra (exactness: the filter is claimed, not residual)
    InventoryDataSource.dirsListed.set(0L)
    InventoryDataSource.rowsEmitted.set(0L)
    val df = spark.read.format("graft-inventory").option("root", tmp).load()
      .filter(col("name").startsWith("/a/sub"))
    val got = df.collect().map(_.getString(0)).toSet
    assert(got == Set("/a/sub", "/a/sub/z.dat"), s"name prefix scan drifted: $got")
    assert(InventoryDataSource.rowsEmitted.get() == 2L,
      "name prefix left non-matching rows to a residual filter")
    assert(InventoryDataSource.dirsListed.get() < fullListed,
      s"name prefix did not prune the walk: ${InventoryDataSource.dirsListed.get()} vs $fullListed")
    assert(df.queryExecution.executedPlan.toString.contains("StringStartsWith(name"),
      "name prefix missing from PushedFilters")
    // name EQUALITY — the "stat one manifest entry" probe: one row, one
    // emitted row, and only the /b branch (plus the root listing) walked
    InventoryDataSource.dirsListed.set(0L)
    InventoryDataSource.rowsEmitted.set(0L)
    val eq = spark.read.format("graft-inventory").option("root", tmp).load()
      .filter(col("name") === "/b/w.dat")
    assert(eq.collect().map(_.getString(0)).toSet == Set("/b/w.dat"))
    assert(InventoryDataSource.rowsEmitted.get() == 1L, "name equality leaked rows")
    assert(InventoryDataSource.dirsListed.get() < fullListed,
      s"name equality did not prune: ${InventoryDataSource.dirsListed.get()} vs $fullListed")
    // composition with the rollup: a name-prefixed aggregate still rides
    // the aggregate pushdown (the filter is exact, so nothing blocks it)
    InventoryDataSource.rowsEmitted.set(0L)
    val agg = spark.read.format("graft-inventory").option("root", tmp).load()
      .filter(col("name").startsWith("/a/"))
      .groupBy("parent_directory")
      .agg(count(lit(1)).as("n"), sum("length").as("bytes"))
    val rolled = agg.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rolled == Set(("/a", 3L, 8L), ("/a/sub", 1L, 7L)),
      s"name-prefixed rollup drifted: $rolled")
    assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "name-prefixed rollup lost the aggregate pushdown")
    assert(InventoryDataSource.rowsEmitted.get() == 2L,
      "name-prefixed rollup leaked row-level rows")
  }

  test("graft-inventory DSv2: a runtime (DPP) filter from a dimension join prunes the tree walk") {
    // the filelist-driven copy shape: inventory JOIN (small dim of
    // directories) — SupportsRuntimeFiltering lets Spark evaluate the
    // broadcast side first and hand the observed keys to the scan as an
    // IN filter BEFORE partitions are planned, so the walk lists only
    // the joined directories. The dim must be file-backed with a
    // selective predicate (a filtered LocalRelation constant-folds away
    // before the PartitionPruning rule can see it).
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.sources.InventoryDataSource
    val tmp = Files.createTempDirectory("graft-dsv2-dpp").toString
    (0 until 20).foreach { d =>
      Files.createDirectories(Paths.get(s"$tmp/d$d"))
      (0 until 5).foreach(f =>
        Files.write(Paths.get(s"$tmp/d$d/f$f.dat"), Array.fill(f + 1)(1.toByte)))
    }
    val dimPath = Files.createTempDirectory("graft-dsv2-dpp-dim").toString + "/dim"
    Seq("/d3", "/d7", "/zz").toDF("parent_directory").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
      .filter(col("parent_directory").startsWith("/d"))
    InventoryDataSource.dirsListed.set(0L)
    val full = spark.read.format("graft-inventory").option("root", tmp).load().count()
    val fullListed = InventoryDataSource.dirsListed.get()
    assert(full == 120L) // 20 dirs + 100 files
    val j = spark.read.format("graft-inventory").option("root", tmp).load()
      .join(dim, "parent_directory")
    InventoryDataSource.dirsListed.set(0L)
    assert(j.count() == 10L, "runtime-filtered join lost rows")
    val joinListed = InventoryDataSource.dirsListed.get()
    assert(joinListed < fullListed / 2,
      s"runtime filter did not prune the walk: $joinListed vs $fullListed")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no DPP expression reached the scan:\n${plan.take(1500)}")
  }

  test("graft-inventory DSv2: minPartitions splits subtrees breadth-first with exactly-once coverage") {
    // a top-heavy namespace (2 top-level dirs) must not cap the fan-out
    // at 3 tasks: minPartitions=6 forces the breadth-first split until
    // every directory is its own own-files partition (4 here — "/", /a,
    // /b, /a/sub — the tree bottoms out below 6), and the split plan must
    // deliver EXACTLY the same rows as the default plan.
    val spark = TestSpark.spark
    val tmp = buildTree()
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val props = new java.util.HashMap[String, String]()
    props.put("root", tmp); props.put("minPartitions", "6")
    val opts = new CaseInsensitiveStringMap(props)
    val provider = new graft.sources.InventoryDataSource
    val table = provider.getTable(provider.inferSchema(opts), Array.empty, props)
    val batch = table.asInstanceOf[SupportsRead].newScanBuilder(opts).build().toBatch
    val parts = batch.planInputPartitions()
    assert(parts.length == 4, s"expected the tree to bottom out at 4 partitions, got ${parts.length}")
    // every partition is an own-files listing of one directory — maximal split
    assert(parts.map(_.toString).forall(_.contains("true")),
      s"split left a recursive subtree partition: ${parts.mkString(",")}")
    val dflt = spark.read.format("graft-inventory").option("root", tmp).load()
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getLong(3))).toSet
    val split = spark.read.format("graft-inventory").option("root", tmp)
      .option("minPartitions", "6").load()
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getLong(3))).toSet
    assert(split == dflt, s"split plan drifted from the default plan: $split")
    // the split composes with pushed filters: pruning still applies and
    // exactness still holds (no residual re-evaluation)
    import graft.sources.InventoryDataSource
    InventoryDataSource.rowsEmitted.set(0L)
    val filtered = spark.read.format("graft-inventory").option("root", tmp)
      .option("minPartitions", "6").load()
      .filter(!col("is_folder") && col("length") >= 5L)
    assert(filtered.collect().map(_.getString(0)).toSet ==
      Set("/a/y.dat", "/a/sub/z.dat", "/b/w.dat"))
    assert(InventoryDataSource.rowsEmitted.get() == 3L,
      "split plan leaked non-matching rows to a residual filter")
  }

  test("graft-inventory DSv2: conflicting pushed is_folder filters apply as a conjunction (empty), never first-wins") {
    // Catalyst's BooleanSimplification collapses `is_folder = true AND
    // NOT(is_folder = true)` before it ever reaches the source, so this
    // drives the DSv2 interfaces directly: BOTH filters are claimed exact
    // (no residual backstop), so the walk itself must apply their
    // conjunction — zero rows — rather than whichever constraint happens
    // to be collected first (which would return wrong rows with nothing
    // downstream to catch them).
    val tmp = buildTree()
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.connector.read.SupportsPushDownFilters
    import org.apache.spark.sql.sources.{EqualTo, Not}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val props = new java.util.HashMap[String, String](); props.put("root", tmp)
    val opts = new CaseInsensitiveStringMap(props)
    val provider = new graft.sources.InventoryDataSource
    def rowCount(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val table = provider.getTable(provider.inferSchema(opts), Array.empty, props)
      val sb = table.asInstanceOf[SupportsRead].newScanBuilder(opts)
      val residual = sb.asInstanceOf[SupportsPushDownFilters].pushFilters(filters)
      assert(residual.isEmpty, s"is_folder filters must be claimed exact: ${residual.mkString(",")}")
      val batch = sb.build().toBatch
      val rf = batch.createReaderFactory()
      batch.planInputPartitions().map { p =>
        val r = rf.createReader(p)
        var n = 0
        while (r.next()) n += 1
        r.close(); n
      }.sum
    }
    // sanity: each constraint alone selects its side of the tree
    assert(rowCount(Array(EqualTo("is_folder", java.lang.Boolean.TRUE))) == 3)
    assert(rowCount(Array(Not(EqualTo("is_folder", java.lang.Boolean.TRUE)))) == 5)
    // the contradiction: the conjunction is empty — 3 or 5 here means one
    // constraint silently won
    assert(rowCount(Array(
      EqualTo("is_folder", java.lang.Boolean.TRUE),
      Not(EqualTo("is_folder", java.lang.Boolean.TRUE)))) == 0,
      "conflicting is_folder equalities must emit the empty conjunction")
  }

  test("graft-inventory DSv2: column pruning reaches the scan; length/folder pushdown correct") {
    val spark = TestSpark.spark
    val tmp = buildTree()
    val df = spark.read.format("graft-inventory").option("root", tmp).load()
      .filter(!col("is_folder") && col("length") >= 5L)
      .select("name")
    val names = df.collect().map(_.getString(0)).toSet
    assert(names == Set("/a/y.dat", "/a/sub/z.dat", "/b/w.dat"))
    val scan = df.queryExecution.executedPlan.toString
    assert(!scan.contains("mtime_ms"), s"column pruning failed:\n$scan")
  }
}
