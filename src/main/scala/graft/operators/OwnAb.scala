package graft.operators

import org.apache.spark.sql.functions._

/** SCALING.md measurement main for the r11 ownership pushdown: a graftfs
  * tree of T×S directories × F files with ~200 distinct owners set
  * through the V2 write path, then three scans of the same selection
  * ("files owned by these 3 principals"):
  *
  *  - full:     no predicate — every record ships
  *  - pushed:   owner IN (...) accepted by the walk — non-matching
  *              records drop at the FileStatus, rowsEmitted = matches
  *  - residual: the same predicate in a non-pushable form (owner || '')
  *              — every record ships, Spark filters post-scan
  *
  * Ownership can't prune DESCENT (every directory still lists), so the
  * claim this measures is row SHIPPING: pushed emits |matches| rows where
  * residual emits |tree|. Locally that prices as row-build CPU; on a
  * cluster it prices as scan→exchange bytes.
  *
  * Usage: runMain graft.operators.OwnAb [topDirs] [subDirs] [filesPer]
  */
object OwnAb {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    val topDirs = if (args.length > 0) args(0).toInt else 30
    val subDirs = if (args.length > 1) args(1).toInt else 20
    val filesPer = if (args.length > 2) args(2).toInt else 50
    val n = topDirs * subDirs * filesPer

    val backing = java.nio.file.Files.createTempDirectory("graft_ownab").toString
    val acct = "ownab" + java.lang.Long.toUnsignedString(backing.hashCode.toLong & 0xffffffffL)
    val hc = Map(
      "fs.graftfs.impl" -> "graft.exec.GraftFsFileSystem",
      s"fs.graftfs.root.$acct" -> backing,
      "fs.graftfs.token.provider" -> "graft.exec.CountingTokenProvider")
    val rootUri = s"graftfs://$acct/"

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[ownab] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }

    t(s"build $n-file owned tree (V2 write)") {
      val rows = spark.range(n).select(
        concat(lit("/t"), col("id") % topDirs, lit("/s"),
          (col("id") / topDirs) % subDirs, lit("/f"), col("id"), lit(".dat")).as("name"),
        lit(false).as("is_folder"),
        (col("id") % 7 + 1).as("length"),
        concat(lit("user"), col("id") % 200).as("owner"),
        concat(lit("grp"), col("id") % 11).as("grp"),
        lit("rw-r--r--").as("perms"))
      hc.foldLeft(rows.write.format("graft-inventory").option("root", rootUri)
        .mode("append")) { case (w, (k, v)) => w.option("hadoop." + k, v) }.save()
    }
    def read() = hc.foldLeft(
      spark.read.format("graft-inventory").option("root", rootUri)) {
      case (r, (k, v)) => r.option("hadoop." + k, v)
    }.load()
    val owners = Seq("user3", "user77", "user123")

    import graft.sources.InventoryDataSource
    // row-shipping shape (select + collect): a bare count() would ride
    // the AGGREGATE pushdown and ship one partial per partition, hiding
    // the contrast this probe exists to show
    (1 to 2).foreach { round =>
      InventoryDataSource.rowsEmitted.set(0L)
      val full = t(s"r$round full scan (ship all)")(
        read().filter(!col("is_folder")).select("name", "owner").collect().length)
      val fullEmitted = InventoryDataSource.rowsEmitted.get()
      InventoryDataSource.rowsEmitted.set(0L)
      val pushed = t(s"r$round owner IN pushed")(
        read().filter(!col("is_folder") && col("owner").isin(owners: _*))
          .select("name", "owner").collect().length)
      val pushedEmitted = InventoryDataSource.rowsEmitted.get()
      InventoryDataSource.rowsEmitted.set(0L)
      val residual = t(s"r$round owner IN residual (owner||'')")(
        read().filter(!col("is_folder") &&
          concat(col("owner"), lit("")).isin(owners: _*))
          .select("name", "owner").collect().length)
      val residualEmitted = InventoryDataSource.rowsEmitted.get()
      require(pushed == residual, s"pushed $pushed != residual $residual")
      println(s"[ownab] r$round rows: full=$full matches=$pushed; emitted: " +
        s"full=$fullEmitted pushed=$pushedEmitted residual=$residualEmitted " +
        f"(${residualEmitted.toDouble / math.max(pushedEmitted, 1)}%.1fx shipped without pushdown)")
    }
    spark.stop()
  }
}
