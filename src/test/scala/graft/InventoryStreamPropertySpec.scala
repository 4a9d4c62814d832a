package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized (fixed-seed) differential test of the inventory stream's
  * offsets against a reference replay of the watermark recurrence: for
  * random trees with deliberately colliding mtimes and random
  * maxFilesPerTrigger bounds, the distributed offset fold must produce
  * EXACTLY the batch sequence the recurrence defines — batch k's end
  * watermark is the n-th smallest entry mtime past batch k-1's (counting
  * multiplicity, ties all admitted), every entry in exactly the batch its
  * mtime falls in; with no bound the whole tree is one batch. A split
  * timestamp, a dropped tie, a folder counted wrong, or a per-subtree
  * merge that loses a head all fail with the offending batch.
  *
  * `admitFilesOnly=true` gets its own recurrence: only FILE rows consume
  * the per-batch budget (folders ride whatever window the files define),
  * and a folder-only tail flushes in one final batch so the drain
  * terminates.
  */
class InventoryStreamPropertySpec extends AnyFunSuite {

  /** (relative path, mtime, isFolder) for every entry */
  private def buildTree(rnd: scala.util.Random): (String, Seq[(String, Long, Boolean)]) = {
    val root = Files.createTempDirectory("graft-sprop").toString
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Boolean)]
    val dirMtimes = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def gen(dir: String, depth: Int): Unit = {
      (0 until 1 + rnd.nextInt(4)).foreach { i =>
        val rel = (if (dir == "/") "" else dir) + s"/f$i.dat"
        val mt = rnd.nextInt(9).toLong * 1000L // small domain: ties are common
        Files.write(Paths.get(root + rel), Array[Byte](1))
        Files.setLastModifiedTime(Paths.get(root + rel), FileTime.fromMillis(mt))
        entries += ((rel, mt, false))
      }
      if (depth < 2) {
        (0 until rnd.nextInt(3)).foreach { i =>
          val rel = (if (dir == "/") "" else dir) + s"/d$i"
          Files.createDirectories(Paths.get(root + rel))
          val mt = rnd.nextInt(9).toLong * 1000L
          entries += ((rel, mt, true))
          dirMtimes += ((rel, mt))
          gen(rel, depth + 1)
        }
      }
    }
    gen("/", 0)
    dirMtimes.sortBy(-_._1.length).foreach { case (rel, mt) =>
      Files.setLastModifiedTime(Paths.get(root + rel), FileTime.fromMillis(mt))
    }
    Files.setLastModifiedTime(Paths.get(root), FileTime.fromMillis(0L))
    (root, entries.toSeq)
  }

  /** the recurrence: batches of entries, each ended at the n-th smallest
    * ADMISSIBLE mtime past the previous watermark (admissible = every
    * entry, or files only; no bound = the largest), ties all admitted; a
    * tail with no admissible entry left flushes in one final batch */
  private def replay(entries: Seq[(String, Long, Boolean)], n: Option[Int],
      filesOnly: Boolean): Seq[Set[String]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    var w = Long.MinValue
    var remaining = entries
    while (remaining.nonEmpty) {
      val past = remaining.filter(_._2 > w)
      if (past.isEmpty) return out.toSeq
      val admissible = past.filter(e => !filesOnly || !e._3).map(_._2).sorted
      val end =
        if (admissible.nonEmpty) admissible.take(n.getOrElse(admissible.size)).last
        else past.map(_._2).max // folder-only tail: one flush batch
      out += past.filter(_._2 <= end).map(_._1).toSet
      w = end
      remaining = remaining.filter(_._2 > w)
    }
    out.toSeq
  }

  private def drainBatches(root: String, n: Option[Int], filesOnly: Boolean,
      minParts: Int = 1): Seq[Set[String]] = {
    val spark = TestSpark.spark
    val ckpt = Files.createTempDirectory("graft-sprop-ckpt").toString
    val out = Files.createTempDirectory("graft-sprop-out").toString + "/rows"
    val reader = spark.readStream.format("graft-inventory").option("root", root)
    val q = n.fold(reader)(b => reader.option("maxFilesPerTrigger", b.toString))
      .option("admitFilesOnly", filesOnly.toString)
      .option("minPartitions", minParts.toString).load()
      .select("name") // prune: local trees must not materialize ownership
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.withColumn("batch", lit(id)).write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("batch"), r.getAs[String]("name")))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2).toSet)
  }

  test("random trees × random bounds reproduce the watermark recurrence exactly") {
    val rnd = new scala.util.Random(815L)
    (1 to 6).foreach { tree =>
      val (root, entries) = buildTree(rnd)
      val n = Seq(1, 2, 3, 5)(rnd.nextInt(4))
      // a random fan-out floor: the level-synchronous split must never
      // change WHAT a batch delivers, only how it fans out
      val mp = Seq(1, 2, 7)(rnd.nextInt(3))
      Seq(Some(n), None).foreach { bound =>
        val expect = replay(entries, bound, filesOnly = false)
        if (bound.isEmpty) assert(expect.size == 1, s"tree=$tree: unbounded replay = $expect")
        val got = drainBatches(root, bound, filesOnly = false, minParts = mp)
        assert(got == expect,
          s"tree=$tree bound=$bound minParts=$mp\nexpect=$expect\ngot=$got")
      }
    }
  }

  test("admitFilesOnly: a folder-only tail flushes in one final batch and the drain terminates") {
    // every file mtime BELOW every folder mtime: after the files drain,
    // only folders remain past the watermark — files-only admission has
    // no file to bound the batch with, so the boundary must jump to the
    // max remaining entry (one flush batch) instead of stalling the
    // AvailableNow drain forever
    val root = Files.createTempDirectory("graft-ftail").toString
    Files.createDirectories(Paths.get(s"$root/d0"))
    Files.createDirectories(Paths.get(s"$root/d1"))
    Seq("/d0/a.dat" -> 1000L, "/d0/b.dat" -> 2000L, "/d1/c.dat" -> 3000L)
      .foreach { case (rel, mt) =>
        Files.write(Paths.get(root + rel), Array[Byte](1))
        Files.setLastModifiedTime(Paths.get(root + rel), FileTime.fromMillis(mt))
      }
    // folders STRICTLY past every file
    Files.setLastModifiedTime(Paths.get(s"$root/d0"), FileTime.fromMillis(9000L))
    Files.setLastModifiedTime(Paths.get(s"$root/d1"), FileTime.fromMillis(8000L))
    Files.setLastModifiedTime(Paths.get(root), FileTime.fromMillis(0L))
    val entries = Seq(("/d0/a.dat", 1000L, false), ("/d0/b.dat", 2000L, false),
      ("/d1/c.dat", 3000L, false), ("/d0", 9000L, true), ("/d1", 8000L, true))
    val expect = replay(entries, Some(1), filesOnly = true)
    val got = drainBatches(root, Some(1), filesOnly = true)
    assert(got == expect, s"expect=$expect\ngot=$got")
    // the folder tail must be ONE batch, after the three 1-file batches
    assert(got.length == 4 && got.last == Set("/d0", "/d1"),
      s"folder-only tail not flushed as one final batch: $got")
  }

  test("admitFilesOnly: folder-interleaved trees bound FILES per batch") {
    val rnd = new scala.util.Random(1107L)
    (1 to 6).foreach { tree =>
      val (root, entries) = buildTree(rnd)
      val n = Seq(1, 2, 3, 5)(rnd.nextInt(4))
      val expect = replay(entries, Some(n), filesOnly = true)
      val isFile = entries.collect { case (rel, _, false) => rel }.toSet
      val got = drainBatches(root, Some(n), filesOnly = true)
      assert(got == expect, s"tree=$tree n=$n\nexpect=$expect\ngot=$got")
      // the per-batch FILE bound (ties may exceed n, so bound by n plus
      // the largest same-mtime file tie group — conservatively, files
      // with the batch's max mtime)
      got.zipWithIndex.foreach { case (batch, i) =>
        val files = batch.intersect(isFile)
        val byMt = files.toSeq.map(f => entries.find(_._1 == f).get._2)
        if (byMt.nonEmpty) {
          val boundary = byMt.max
          val nonTies = byMt.count(_ < boundary)
          assert(nonTies < n,
            s"tree=$tree batch=$i: " +
              s"${files.size} files admitted with $nonTies strictly inside " +
              s"the boundary — budget n=$n violated beyond the tie rule")
        }
      }
    }
  }
}
