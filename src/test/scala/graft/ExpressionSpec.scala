package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DotProduct, HyperplaneCodes, MinHashSigAgg, PortableHash, ShingleHashes}

/** Custom Catalyst extensions must be drop-in equivalent to the composed
  * built-in forms they replace (the DuckDB oracles are written against the
  * composed semantics). */
class ExpressionSpec extends AnyFunSuite {

  test("ShingleHashes == composed ascii/substring polynomial") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.Sf).limit(50)
    val viaExpr = docs.select(col("doc_id"),
        explode(ShingleHashes.shingleHashes(col("text"), 8)).as("h"))
      .groupBy("doc_id").agg(sum("h").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val viaComposed = docs.select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 7)).as("i"))
      .select(col("doc_id"), PortableHash.h8(expr("substring(text, i, 8)")).as("h"))
      .groupBy("doc_id").agg(sum("h").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viaExpr == viaComposed)
  }

  test("ShingleHashes handles short and empty strings") {
    assert(ShingleHashes.compute("", 8).numElements() == 0)
    assert(ShingleHashes.compute("1234567", 8).numElements() == 0)
    assert(ShingleHashes.compute("12345678", 8).numElements() == 1)
  }

  test("DotProduct == aggregate(zip_with(...)) fold") {
    val spark = TestSpark.spark
    val e = Tables.embeddings(spark, TestSpark.Sf).limit(100)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val both = e.select(col("vec_id"),
        DotProduct.dotProduct(col("v"), col("v")).as("d1"),
        aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
          lit(0.0), (a, x) => a + x).as("d2"))
      .collect()
    both.foreach(r => assert(r.getDouble(1) == r.getDouble(2),
      s"vec ${r.getLong(0)}: ${r.getDouble(1)} != ${r.getDouble(2)}"))
  }

  test("MinHashSig (per-row, over array) == MinHashSigAgg (grouped, over rows)") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.Sf).limit(50)
    val viaScalar = docs.select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(
          array_distinct(ShingleHashes.shingleHashes(col("text"), 8)), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaAgg = docs.select(col("doc_id"),
        explode(array_distinct(ShingleHashes.shingleHashes(col("text"), 8))).as("h"))
      .groupBy("doc_id").agg(MinHashSigAgg.minhashSig(col("h"), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaScalar == viaAgg)
  }

  test("SQL-registered custom functions match the Column API forms") {
    val spark = TestSpark.spark
    graft.functions.GraftFunctions.register(spark)
    Tables.embeddings(spark, TestSpark.Sf).limit(50)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .createOrReplaceTempView("emb_t")
    val viaSql = spark.sql(
      """SELECT vec_id, dot_product(v, v) AS d,
        |       hyperplane_code_word(v, 24, 2, 42) AS w,
        |       hyperplane_codes(v, 4, 2, 42) AS cs
        |FROM emb_t""".stripMargin)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getSeq[Int](3))).toMap
    val viaApi = Tables.embeddings(spark, TestSpark.Sf).limit(50)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        DotProduct.dotProduct(col("v"), col("v")).as("d"),
        graft.functions.HyperplaneCodes.hyperplaneCodeWord(col("v"), 24, 2, 42L).as("w"),
        graft.functions.HyperplaneCodes.hyperplaneCodes(col("v"), 4, 2, 42L).as("cs"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getSeq[Int](3))).toMap
    assert(viaSql == viaApi)
    // the packed word is exactly the codes array folded into bit groups
    viaApi.foreach { case (_, (_, w, _)) =>
      val codes = (0 until 24).map(t => ((w >>> (2 * t)) & 3).toInt)
      assert(codes.forall(c => c >= 0 && c <= 3))
    }
  }

  test("MinHashSigAgg == 32 separate min(perm_i) aggregates") {
    val spark = TestSpark.spark
    val sh = Tables.documents(spark, TestSpark.Sf).limit(50)
      .select(col("doc_id"),
        explode(ShingleHashes.shingleHashes(col("text"), 8)).as("h"))
    val viaAgg = sh.groupBy("doc_id")
      .agg(MinHashSigAgg.minhashSig(col("h"), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val mins = (0 until 32).map(i => min(PortableHash.minhashPerm(col("h"), i)).as(s"m$i"))
    val viaMins = sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 32).map(r.getLong(_))).toMap
    assert(viaAgg.keySet == viaMins.keySet)
    viaAgg.foreach { case (d, sig) => assert(sig == viaMins(d), s"doc $d") }
  }

  test("CentroidArgmin == composed quantize/zip_with/aggregate argmin") {
    val spark = TestSpark.spark
    val cents = Array(
      Array.fill(64)(0L),
      Array.tabulate(64)(i => (i * 1000).toLong),
      Array.tabulate(64)(i => ((63 - i) * 1000).toLong))
    val e = Tables.embeddings(spark, TestSpark.Sf).limit(200)
    val centsSql = cents.map(_.mkString("array(", "L,", "L)")).mkString("array(", ",", ")")
    val both = e.select(col("vec_id"), col("embedding"),
        graft.functions.CentroidArgmin.centroidArgmin(col("embedding"), cents).as("c1"))
      .withColumn("c2", expr(
        s"""CAST(array_position(
           |  transform($centsSql, cc -> aggregate(cc, 0L, (a, x) -> a + x * x) -
           |    2 * aggregate(zip_with(cc,
           |          transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
           |          (x, y) -> x * y), 0L, (a, x) -> a + x)),
           |  array_min(transform($centsSql, cc -> aggregate(cc, 0L, (a, x) -> a + x * x) -
           |    2 * aggregate(zip_with(cc,
           |          transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
           |          (x, y) -> x * y), 0L, (a, x) -> a + x)))) - 1 AS INT)""".stripMargin))
      .collect()
    both.foreach(r => assert(r.getInt(2) == r.getInt(3), s"vec ${r.getLong(0)}"))
  }

  test("centroid_argmin is reachable from SQL and matches the Column API") {
    val spark = TestSpark.spark
    graft.functions.GraftFunctions.register(spark)
    val cents = Array(
      Array.fill(64)(0L),
      Array.tabulate(64)(i => (i * 1000).toLong))
    val centsSql = cents.map(_.mkString("array(", "L,", "L)")).mkString("array(", ",", ")")
    Tables.embeddings(spark, TestSpark.Sf).limit(100)
      .createOrReplaceTempView("emb_ca_v")
    val viaSql = spark.sql(
        s"SELECT vec_id, centroid_argmin(embedding, $centsSql) AS c FROM emb_ca_v")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaCol = Tables.embeddings(spark, TestSpark.Sf).limit(100)
      .select(col("vec_id"),
        graft.functions.CentroidArgmin.centroidArgmin(col("embedding"), cents).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaSql == viaCol)
  }

  test("CentroidArgmin ties keep the lowest cluster id; double input matches float") {
    val spark = TestSpark.spark
    import spark.implicits._
    // duplicate centroids force a tie on every row
    val cents = Array(Array.tabulate(4)(_.toLong), Array.tabulate(4)(_.toLong))
    val rows = Seq(Seq(0.5f, 1.5f, -2.5f, 3.5f), Seq(0f, 0f, 0f, 0f)).toDF("v")
    val got = rows.select(
        graft.functions.CentroidArgmin.centroidArgmin(col("v"), cents).as("c"),
        graft.functions.CentroidArgmin
          .centroidArgmin(col("v").cast("array<double>"), cents).as("cd"))
      .collect()
    got.foreach { r => assert(r.getInt(0) == 0); assert(r.getInt(1) == 0) }
  }

  test("CentroidMinDist on pre-quantized longs == n2c - 2*dot via DotProduct") {
    val spark = TestSpark.spark
    val cents = Array(
      Array.tabulate(64)(i => (i * 500 - 2000).toLong),
      Array.fill(64)(1000L))
    val q = Tables.embeddings(spark, TestSpark.Sf).limit(100)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("xq"))
    val viaExpr = q.select(col("vec_id"),
        graft.functions.CentroidArgmin.centroidMinDist(col("xq"), cents).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n2c = cents.map(c => c.map(x => x * x).sum)
    val centsSql = cents.map(_.mkString("array(", "L,", "L)"))
    val viaComposed = q.select(col("vec_id"),
        least(
          lit(n2c(0)) - lit(2L) * expr(
            s"aggregate(zip_with(xq, ${centsSql(0)}, (x, y) -> x * y), 0L, (a, x) -> a + x)"),
          lit(n2c(1)) - lit(2L) * expr(
            s"aggregate(zip_with(xq, ${centsSql(1)}, (x, y) -> x * y), 0L, (a, x) -> a + x)")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaComposed)
  }

  test("h8Digits equals the string-form H8 over lpad'ed integer keys") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import graft.functions.PortableHash
    // boundary-heavy key set: 0, single digits, powers of 10, 1e8-1
    val keys = (Seq(0L, 1L, 9L, 10L, 99L, 100L, 12345L, 999999L, 1000000L,
      99999999L) ++ (1L to 500L).map(_ * 199999L)).distinct
    val df = spark.createDataFrame(keys.map(Tuple1(_))).toDF("k")
    val bad = df.select(
        PortableHash.h8(lpad(col("k").cast("string"), 8, "0")).as("s"),
        PortableHash.h8Digits(col("k")).as("d"))
      .filter(col("s") =!= col("d")).count()
    assert(bad == 0L, "digit-form H8 drifted from the string form")
  }

  /** a frame as a local relation (the optimizer folds projections over it
    * through the interpreted `eval`) and repartitioned (whole-stage codegen) */
  private def bothPaths(df: DataFrame): Seq[DataFrame] = Seq(df, df.repartition(2))

  /** The composed first-match test the LSH pair dedup used before
    * FirstMatchingTable: every table before g differs between `wsa` and
    * `wsb`. OR-ing the xor over all bits-1 right-shifts lands any
    * differing bit on its group's low bit; every earlier word must differ
    * in all its groups, g's own word in the groups below g's slot. */
  private def composedEarlierTablesDiffer(tables: Int, b: Int): Column = {
    val tpw = HyperplaneCodes.tablesPerWord(b)
    val nWords = (tables + tpw - 1) / tpw
    def collapsed(k: Int): String = (0 until b)
      .map(s => s"((element_at(wsa, ${k + 1}) ^ element_at(wsb, ${k + 1})) >> $s)")
      .mkString("(", " | ", ")")
    def groupMask(k: Int): Long =
      (0 until math.min(tpw, tables - k * tpw)).map(t => 1L << (b * t)).reduce(_ | _)
    val earlierWords = (0 until nWords).map { k =>
      s"((g DIV $tpw) <= $k OR ((${collapsed(k)} & ${groupMask(k)}L) = ${groupMask(k)}L))"
    }.mkString(" AND ")
    val withinWord = (0 until nWords).map { k =>
      val below = s"((shiftleft(CAST(1 AS BIGINT), $b * (g % $tpw)) - 1) & ${groupMask(k)}L)"
      s"WHEN (g DIV $tpw) = $k THEN ((${collapsed(k)} & $below) = $below)"
    }.mkString(" ")
    expr(s"($earlierWords) AND (CASE $withinWord END)")
  }

  test("FirstMatchingTable == composed shift/mask/CASE first-match predicate") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(14)
    // (40, 6) is the sf0.01 near-dup shape; (9, 7) fills a word exactly
    Seq((40, 6), (9, 7), (24, 2), (5, 13)).foreach { case (tables, bits) =>
      val tpw = HyperplaneCodes.tablesPerWord(bits)
      def pack(codes: Array[Int]): Seq[Long] = codes.grouped(tpw).map(_.zipWithIndex
        .map { case (c, slot) => c.toLong << (bits * slot) }.reduce(_ | _)).toSeq
      // rows from identical (first match 0) to fully distinct (no match)
      val rows = (0 until 300).map { r =>
        val a = Array.fill(tables)(rnd.nextInt(1 << bits))
        val keep = Seq(1.0, 0.5, 0.1, 0.02, 0.0, -1.0)(r % 6)
        val b = a.map { c =>
          if (keep < 0) c ^ 1
          else if (rnd.nextDouble() < keep) c
          else rnd.nextInt(1 << bits)
        }
        (pack(a), pack(b))
      }
      val pairs = rows.toDF("wsa", "wsb")
        .withColumn("g", explode(sequence(lit(0), lit(tables - 1))))
      def code(ws: String): Column = expr(
        s"(element_at($ws, CAST(g DIV $tpw AS INT) + 1) >> ($bits * (g % $tpw))) & ${(1 << bits) - 1}")
      bothPaths(pairs).foreach { df =>
        val got = df.select(
            (composedEarlierTablesDiffer(tables, bits) && code("wsa") === code("wsb")).as("old"),
            HyperplaneCodes.firstMatchingTable(col("wsa"), col("wsb"), tables, bits).as("first"),
            col("g"))
          .collect()
        got.foreach(r => assert(r.getBoolean(0) == (r.getInt(1) == r.getInt(2)),
          s"$tables x $bits: composed ${r.getBoolean(0)}, first match ${r.getInt(1)} at g ${r.getInt(2)}"))
        val firsts = got.map(_.getInt(1)).toSet
        assert(firsts(0) && firsts(-1) && firsts.exists(_ > 0), s"$tables x $bits: $firsts")
      }
    }
  }

  test("H8 kernel == composed ascii/substring chain, past the end and beyond ASCII") {
    val spark = TestSpark.spark
    import spark.implicits._
    val composed = (0 to 7).map(j =>
      ascii(substring(col("s"), j + 1, 1)).cast("long") * lit(PortableHash.Pow31(j))).reduce(_ + _)
    val strings = Seq(null, "", "a", "abcdefg", "abcdefgh", "abcdefghijk", "ab\u0000cd",
      "héllo wörld", "日本語のテキストです", "ÿ€x", "😀a𝄞b😀c𝄞d😀e", "a😀").toDF("s")
    // bytes that are not valid UTF-8: a lone lead byte, a cut sequence, a
    // stray continuation byte
    val malformed = Seq("61C362", "E282", "F09F98", "8041424344454647", "41FF42")
      .toDF("x").select(unhex(col("x")).cast("string").as("s"))
    (bothPaths(strings) ++ bothPaths(malformed)).foreach { df =>
      val rows = df.select(col("s"), PortableHash.h8(col("s")).as("k"), composed.as("c")).collect()
      rows.foreach(r => assert(r.get(1) == r.get(2), s"'${r.getString(0)}': ${r.get(1)} != ${r.get(2)}"))
    }
  }

  test("h8Digits kernel == composed floor/remainder digit chain, negative and null keys") {
    val spark = TestSpark.spark
    import spark.implicits._
    val composed = (0 to 7).map { j =>
      val p = math.pow(10, (7 - j).toDouble).toLong
      (lit(48L) + (floor(col("k").cast("long") / lit(p)).cast("long") % 10)) * lit(PortableHash.Pow31(j))
    }.reduce(_ + _)
    val keys = Seq[Option[Long]](Some(0L), Some(7L), Some(99999999L), Some(100000000L),
      Some(123456789012L), Some(-1L), Some(-10L), Some(-99999999L), Some(-123456789L),
      Some(Long.MaxValue), Some(Long.MinValue), None).toDF("k")
    bothPaths(keys).foreach { df =>
      val rows = df.select(col("k"), PortableHash.h8Digits(col("k")).as("d"), composed.as("c")).collect()
      rows.foreach(r => assert(r.get(1) == r.get(2), s"key ${r.get(0)}: ${r.get(1)} != ${r.get(2)}"))
    }
  }
}
