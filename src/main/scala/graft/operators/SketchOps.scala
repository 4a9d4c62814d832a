package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.Tables
import graft.functions.PortableHash

/** Sketch tier (north-star: sublinear-memory frequency estimation a
  * streaming/batch pipeline uses for heavy-hitter detection before exact
  * counting is affordable). The count-min sketch here is DETERMINISTIC —
  * the d hash rows are the fixed [[PortableHash]] permutation family over
  * H8, so the sketch (and its over-estimates) is bit-identical in Spark
  * and the DuckDB oracle, making even an approximate structure exactly
  * oracle-checkable.
  *
  * Scale shape: the sketch itself is d×w cells — CONSTANT memory at any
  * corpus size, built by one hash aggregation per row function over the
  * event stream; per-key estimates then broadcast-join the tiny cell
  * tables. No shuffle grows with the key cardinality except the final
  * exact-count compare (which exists only to expose estimation error).
  */
object SketchOps {

  private[graft] val D = 4 // hash rows
  private[graft] val W = 64 // buckets per row
  import PortableHash.{P, permA, permB}

  // Bloom filter shape: BloomBits bits as ⌈BloomBits/63⌉ long words (63 usable bits per word — the sign bit stays clear so the mask arithmetic is portable; DuckDB errors on 1<<63), BloomK
  // deterministic hash functions (PortableHash perms 6..9 — disjoint from
  // count-min's 1..4 and HLL's 5). Fixed size keeps the structure oracled
  // at every sf; production sizes m from the build-side count (m ≈ 16n
  // for ~3‰ fp at k=4) — the shape of the code is size-independent.
  private[graft] val BloomBits = 4096
  private[graft] val BloomK = 4

  /** equi-width histogram sketch bins per key (constant-memory quantiles).
    * NOTE: must initialize BEFORE `queries` — the oracle SQL strings
    * interpolate it at object-init time, and a forward val reads as 0. */
  private[graft] val HistBins = 256L

  /** the j-th bloom bit of the pre-hashed key column `h`, as DuckDB SQL */
  private def bloomBitSql(j: Int): String =
    s"(((${permA(5 + j)} * (h % $P) + ${permB(5 + j)}) % $P) % $BloomBits)"

  /** (word, mask) rows — one per (input row, hash j) — for the key column.
    * Pure per-row expressions: works on batch AND streaming frames, and
    * OR-idempotence means no distinct is ever needed on the build side. */
  private[graft] def bloomBitRows(df: DataFrame, key: Column): DataFrame = {
    val h = PortableHash.h8(lpad(key.cast("string"), 8, "0"))
    (1 to BloomK).map { j =>
      df.select((PortableHash.minhashPerm(h, 5 + j) % BloomBits).as("bit"))
        .selectExpr("bit DIV 63 AS word",
          "shiftleft(CAST(1 AS BIGINT), CAST(bit % 63 AS INT)) AS mask")
    }.reduce(_ unionByName _)
  }

  /** the bloom word table (≤ ⌈BloomBits/63⌉ rows): bit-OR of every key's
    * masks — ONE hash aggregation over the build side, constant output.
    * Shared with the streaming twin so it cannot drift from the oracle. */
  private[graft] def bloomWords(df: DataFrame, key: Column): DataFrame =
    bloomBitRows(df, key).groupBy("word").agg(expr("bit_or(mask)").as("bits"))

  /** bucket i of the H8 value `h`, as DuckDB SQL */
  private def bucketSql(i: Int): String =
    s"((${permA(i)} * (h % $P) + ${permB(i)}) % $P) % $W"

  /** linear-counting values round(64·ln(64/V)) for V = 1..64, computed
    * once and inlined as identical integer literals into both engines */
  private val LcTable: IndexedSeq[Long] =
    (1 to 64).map(v => math.round(64.0 * math.log(64.0 / v)))

  /** (bucket, rho) per event row for the HLL sketch — bucket = low 6 bits
    * of the permuted hash, rho = leading-zero rank of the upper 25. Shared
    * with the streaming register maintenance
    * ([[graft.streaming.StreamOps.hllRegisters]]) so the incremental
    * sketch cannot drift from the oracled batch one. Pure per-row
    * expressions: works on batch AND streaming frames. */
  private[graft] def hllBucketRho(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val v = PortableHash.minhashPerm(
      PortableHash.h8(lpad(col("user_id").cast("string"), 8, "0")), 5)
    events.select(v.as("v"))
      .selectExpr("v % 64 AS bucket",
        "CASE WHEN v DIV 64 = 0 THEN 26L ELSE 26 - length(bin(v DIV 64)) END AS rho")
  }

  /** (user_id, b1..bD): each row's sketch buckets for its user key. Shared
    * with the streaming twin ([[graft.streaming.StreamOps.countMinCells]])
    * so the incremental sketch cannot drift from the oracled batch one.
    * Works on batch AND streaming frames (pure per-row expressions). */
  private[graft] def bucketed(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val h = PortableHash.h8(lpad(col("user_id").cast("string"), 8, "0"))
    events.select(
      (col("user_id") +:
        (1 to D).map(i => (PortableHash.minhashPerm(h, i) % W).as(s"b$i"))): _*)
  }

  val queries: Seq[GraftQuery] = Seq(

    // count-min estimate vs exact count of per-user event frequencies,
    // top 20 most-active users by estimate. est_n >= exact_n always
    // (count-min never under-counts); the gap is the collision error the
    // 4x64 sketch pays at this key cardinality.
    GraftQuery("events_count_min",
      s"""WITH k AS (SELECT user_id,
         |    ${PortableHash.h8Sql("lpad(CAST(user_id AS VARCHAR), 8, '0')")} AS h
         |  FROM events),
         |b AS (SELECT user_id,
         |    ${(1 to D).map(i => s"${bucketSql(i)} AS b$i").mkString(", ")}
         |  FROM k),
         |${(1 to D).map(i =>
           s"c$i AS (SELECT b$i AS bk, CAST(count(*) AS BIGINT) AS n$i FROM b GROUP BY b$i)")
           .mkString(",\n")},
         |keys AS (SELECT user_id,
         |    ${(1 to D).map(i => s"min(b$i) AS b$i").mkString(", ")},
         |    CAST(count(*) AS BIGINT) AS exact_n
         |  FROM b GROUP BY user_id)
         |SELECT k.user_id, least(${(1 to D).map(i => s"c$i.n$i").mkString(", ")}) AS est_n,
         |       k.exact_n
         |FROM keys k ${(1 to D).map(i => s"JOIN c$i ON c$i.bk = k.b$i").mkString(" ")}
         |ORDER BY est_n DESC, k.user_id LIMIT 20""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val b = bucketed(Tables.events(spark, sfDir))
        .transform(graft.CacheTracker.persist)
      val cells = (1 to D).map(i =>
        b.groupBy(col(s"b$i").as("bk")).agg(count(lit(1)).as(s"n$i")))
      val keyAggs = (1 to D).map(i => min(col(s"b$i")).as(s"b$i")) :+
        count(lit(1)).as("exact_n")
      val keys = b.groupBy("user_id").agg(keyAggs.head, keyAggs.tail: _*)
      val joined = (1 to D).foldLeft(keys.alias("k")) { (acc, i) =>
        acc.join(broadcast(cells(i - 1).alias(s"c$i")), col(s"b$i") === col(s"c$i.bk"))
      }
      joined.select(col("user_id"),
          least((1 to D).map(i => col(s"n$i")): _*).as("est_n"), col("exact_n"))
        .orderBy(col("est_n").desc, col("user_id"))
        .limit(20)
    },

    // Count-min MERGEABILITY as a correctness row (the CM twin of
    // sketch_hll_merge's register-max rollup): per-day PARTIAL sketches —
    // the shape each shard/ingest batch builds independently — merged by
    // cell-wise SUM into the global sketch, then the top-20 per-user
    // estimates read off the MERGED cells against the exact counts. Sum
    // is the whole algebra (each event lands in exactly one day's
    // partial), which is what makes the sketch distributable: partials
    // never leave their shard, only d×w counters travel. The daily cell
    // frame is bounded (days × w rows per depth), so the merge stage
    // aggregates a constant-ish frame, not the corpus.
    GraftQuery("sketch_cm_merge",
      s"""WITH k AS (SELECT user_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         |    ${PortableHash.h8Sql("lpad(CAST(user_id AS VARCHAR), 8, '0')")} AS h
         |  FROM events),
         |b AS (SELECT user_id, day,
         |    ${(1 to D).map(i => s"${bucketSql(i)} AS b$i").mkString(", ")}
         |  FROM k),
         |${(1 to D).map(i =>
           s"""c$i AS (SELECT bk, CAST(sum(dn) AS BIGINT) AS n$i FROM (
              |    SELECT day, b$i AS bk, count(*) AS dn FROM b GROUP BY day, b$i) d$i
              |  GROUP BY bk)""".stripMargin).mkString(",\n")},
         |keys AS (SELECT user_id,
         |    ${(1 to D).map(i => s"min(b$i) AS b$i").mkString(", ")},
         |    CAST(count(*) AS BIGINT) AS exact_n
         |  FROM b GROUP BY user_id)
         |SELECT k.user_id, least(${(1 to D).map(i => s"c$i.n$i").mkString(", ")}) AS est_n,
         |       k.exact_n
         |FROM keys k ${(1 to D).map(i => s"JOIN c$i ON c$i.bk = k.b$i").mkString(" ")}
         |ORDER BY est_n DESC, k.user_id LIMIT 20""".stripMargin) { (spark, sfDir) =>
      val h = PortableHash.h8(lpad(col("user_id").cast("string"), 8, "0"))
      val b = Tables.events(spark, sfDir).select(
          (Seq(col("user_id"),
            expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day")) ++
            (1 to D).map(i => (PortableHash.minhashPerm(h, i) % W).as(s"b$i"))): _*)
        .transform(graft.CacheTracker.persist)
      val merged = (1 to D).map(i =>
        b.groupBy(col("day"), col(s"b$i").as("bk")).agg(count(lit(1)).as("dn"))
          .groupBy("bk").agg(sum("dn").as(s"n$i")))
      val keyAggs = (1 to D).map(i => min(col(s"b$i")).as(s"b$i")) :+
        count(lit(1)).as("exact_n")
      val keys = b.groupBy("user_id").agg(keyAggs.head, keyAggs.tail: _*)
      val joined = (1 to D).foldLeft(keys.alias("k")) { (acc, i) =>
        acc.join(broadcast(merged(i - 1).alias(s"c$i")), col(s"b$i") === col(s"c$i.bk"))
      }
      joined.select(col("user_id"),
          least((1 to D).map(i => col(s"n$i")): _*).as("est_n"), col("exact_n"))
        .orderBy(col("est_n").desc, col("user_id"))
        .limit(20)
    },

    // HyperLogLog distinct-user estimate vs the exact count. 64 registers;
    // register j holds max(rho) where rho = leading-zero rank of the
    // hash's upper 25 bits (bucket = low 6). EVERYTHING is integer: the
    // harmonic sum Σ 2^-M_j is a sum of dyadic rationals with common
    // denominator 2^26, so it travels as the integer Σ 2^(26-M_j) and the
    // α·m²/S estimate is one long floor-division (α₆₄ = 0.709 as 709/1000;
    // 194888436023296 = 709·4096·2²⁶). The classic small-range linear-
    // counting correction (raw ≤ 5m/2 and empty registers exist →
    // m·ln(m/V)) needs ln(), so its 64 possible values are precomputed
    // ONCE here and inlined as the same integer literals into both
    // engines' plans — no float ever crosses an engine boundary, making
    // the float-harmonic-mean sketch bit-identical across engines. The
    // registers are constant memory at any cardinality; the exact count
    // alongside exists only to expose the estimation error.
    GraftQuery("events_hll_distinct",
      s"""WITH k AS (SELECT user_id,
         |    ${PortableHash.h8Sql("lpad(CAST(user_id AS VARCHAR), 8, '0')")} AS h
         |  FROM events),
         |v AS (SELECT ((${permA(5)} * (h % $P) + ${permB(5)}) % $P) AS v FROM k),
         |wr AS (SELECT v % 64 AS bucket,
         |         CASE WHEN v // 64 = 0 THEN 26
         |              ELSE 26 - length(bin(v // 64)) END AS rho FROM v),
         |reg AS (SELECT g.bucket, coalesce(max(wr.rho), 0) AS m
         |        FROM generate_series(0, 63) AS g(bucket)
         |        LEFT JOIN wr ON wr.bucket = g.bucket GROUP BY g.bucket),
         |s AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (26 - m)) AS BIGINT) AS s_scaled,
         |             CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vz
         |      FROM reg),
         |r AS (SELECT CAST(194888436023296 // (1000 * s_scaled) AS BIGINT) AS raw_est,
         |             vz FROM s),
         |e AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n FROM events)
         |SELECT CAST(CASE WHEN r.raw_est <= 160 AND r.vz > 0
         |            THEN ([${LcTable.mkString(", ")}])[CAST(r.vz AS INT)]
         |            ELSE r.raw_est END AS BIGINT) AS est_n,
         |       e.exact_n
         |FROM r, e""".stripMargin) { (spark, sfDir) =>
      hllEstimate(spark, sfDir) },

    // Sketch ALGEBRA as a correctness row: per-(event_type, day) HLL
    // register files rolled up into per-type distinct-user estimates by
    // register-wise max — the mergeability property that makes sketches
    // the 100 TB answer to re-aggregation. A production pipeline
    // materializes the daily sketches once (64 longs per type·day) and
    // answers any coarser rollup (weekly, monthly, all-time, any type
    // subset) WITHOUT rescanning the corpus; this query replays exactly
    // that two-level path — daily max(rho), then max across days — and
    // both engines land on the identical integer estimate because merge
    // = max commutes and the estimator is the same dyadic-rational
    // machinery as events_hll_distinct. RankSketchSpec pins merged
    // registers == one-shot registers (the algebra itself).
    GraftQuery("sketch_hll_merge",
      s"""WITH k AS (SELECT event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         |    ${PortableHash.h8Sql("lpad(CAST(user_id AS VARCHAR), 8, '0')")} AS h
         |  FROM events),
         |v AS (SELECT event_type, day,
         |    ((${permA(5)} * (h % $P) + ${permB(5)}) % $P) AS v FROM k),
         |wr AS (SELECT event_type, day, v % 64 AS bucket,
         |         CASE WHEN v // 64 = 0 THEN 26
         |              ELSE 26 - length(bin(v // 64)) END AS rho FROM v),
         |daily AS (SELECT event_type, day, bucket, max(rho) AS m
         |          FROM wr GROUP BY event_type, day, bucket),
         |merged AS (SELECT event_type, bucket, max(m) AS m
         |           FROM daily GROUP BY event_type, bucket),
         |nd AS (SELECT event_type, CAST(count(DISTINCT day) AS BIGINT) AS n_days
         |       FROM daily GROUP BY event_type),
         |s AS (SELECT event_type,
         |        CAST(sum(CAST(1 AS BIGINT) << CAST(26 - m AS INT)) AS BIGINT)
         |          + (64 - CAST(count(*) AS BIGINT)) * 67108864 AS s_scaled,
         |        64 - CAST(count(*) AS BIGINT) AS vz
         |      FROM merged GROUP BY event_type),
         |r AS (SELECT event_type,
         |        CAST(194888436023296 // (1000 * s_scaled) AS BIGINT) AS raw_est,
         |        vz FROM s),
         |e AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n
         |      FROM events GROUP BY event_type)
         |SELECT r.event_type, nd.n_days,
         |       CAST(CASE WHEN r.raw_est <= 160 AND r.vz > 0
         |            THEN ([${LcTable.mkString(", ")}])[CAST(r.vz AS INT)]
         |            ELSE r.raw_est END AS BIGINT) AS est_n,
         |       e.exact_n
         |FROM r JOIN nd USING (event_type) JOIN e USING (event_type)
         |ORDER BY event_type""".stripMargin) { (spark, sfDir) =>
      val ev = Tables.events(spark, sfDir)
      val v = PortableHash.minhashPerm(
        PortableHash.h8(lpad(col("user_id").cast("string"), 8, "0")), 5)
      val wr = ev.select(col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"),
          v.as("v"))
        .selectExpr("event_type", "day", "v % 64 AS bucket",
          "CASE WHEN v DIV 64 = 0 THEN 26L ELSE 26 - length(bin(v DIV 64)) END AS rho")
      // the daily register file is the query's ONLY corpus-derived frame
      // and is bounded (types × days × 64 rows) — persist it so the merge
      // and the n_days audit don't each rescan the events
      val daily = dailyHllRegisters(wr)
        .transform(graft.CacheTracker.persist)
      val merged = daily.groupBy("event_type", "bucket").agg(max("m").as("m"))
      val nd = daily.groupBy("event_type")
        .agg(count_distinct(col("day")).cast("long").as("n_days"))
      val est = merged.groupBy("event_type")
        .agg(expr("CAST(sum(shiftleft(CAST(1 AS BIGINT), CAST(26 - m AS INT))) AS BIGINT)")
            .as("s_present"),
          count(lit(1)).as("n_present"))
        .selectExpr("event_type",
          "s_present + (64 - n_present) * 67108864L AS s_scaled",
          "64 - n_present AS vz")
        .selectExpr("event_type",
          "CAST(194888436023296L DIV (1000 * s_scaled) AS BIGINT) AS raw_est", "vz")
        .selectExpr("event_type",
          s"""CAST(CASE WHEN raw_est <= 160 AND vz > 0
             |     THEN element_at(array(${LcTable.mkString(", ")}), CAST(vz AS INT))
             |     ELSE raw_est END AS BIGINT) AS est_n""".stripMargin)
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).cast("long").as("exact_n"))
      est.join(nd, Seq("event_type")).join(exact, Seq("event_type"))
        .select("event_type", "n_days", "est_n", "exact_n")
        .orderBy("event_type")
    },

    // STREAMING count-min sketch maintenance, registered and oracled: the
    // events flow through a real Structured Streaming query (file source →
    // per-row bucketing → running cell aggregation → AvailableNow drain
    // into a memory sink), and the FINAL cell state is compared against
    // the batch-computed sketch in DuckDB. The cell aggregation is the
    // bounded-state structure itself: D×W rows regardless of stream
    // length, no watermark needed because state cannot grow. Bucketing is
    // SketchOps.bucketed (the same expressions as events_count_min), so
    // this row-level CORRECTNESS entry pins streaming/batch sketch parity
    // — not just the spec-level assertion in StreamingSpec.
    GraftQuery("stream_count_min",
      s"""WITH k AS (SELECT user_id,
         |    ${PortableHash.h8Sql("lpad(CAST(user_id AS VARCHAR), 8, '0')")} AS h
         |  FROM events),
         |b AS (SELECT user_id,
         |    ${(1 to D).map(i => s"${bucketSql(i)} AS b$i").mkString(", ")}
         |  FROM k),
         |u AS (${(1 to D).map(i => s"SELECT $i AS rw, b$i AS bk FROM b")
            .mkString(" UNION ALL ")})
         |SELECT rw, bk, CAST(count(*) AS BIGINT) AS n
         |FROM u GROUP BY rw, bk ORDER BY rw, bk""".stripMargin) { (spark, sfDir) =>
      val cells = graft.streaming.StreamOps.countMinCells(
        graft.streaming.StreamOps.eventStream(spark, sfDir))
      graft.streaming.StreamOps
        .runToCompletion(cells, "stream_cm")
        .select(col("row").cast("int").as("rw"), col("bk"), col("n"))
        .orderBy("rw", "bk")
    },

    // STREAMING HyperLogLog register maintenance, registered and oracled:
    // same shape — the running max-rho aggregation IS the register file
    // (≤ 64 rows forever), drained AvailableNow and hash-compared against
    // the batch registers. hllBucketRho is shared with events_hll_distinct,
    // so the incremental registers cannot drift from the oracled batch
    // estimate's inputs.
    // Bloom-filter membership probe — the reusable, shippable form of the
    // runtime bloom join PlanSpec demonstrates: build a 4096-bit / 4-hash
    // filter over the customers with RECENT orders (one hash agg → ≤ 66
    // long words), then probe EVERY customer against the broadcast word
    // table. bloom_hit = 1 for every true member ALWAYS (no false
    // negatives — the invariant RankSketchSpec pins); exact_in sits
    // alongside so the false-positive rate is visible. Deterministic
    // PortableHash bits make the probabilistic structure exactly
    // oracle-checkable, per key. At scale: build side is a linear scan +
    // constant-size agg; probe side never shuffles (4 broadcast joins of
    // a 64-row table); the classic use ships `words` to ANOTHER job to
    // pre-filter its scan.
    GraftQuery("events_bloom",
      s"""WITH mh AS (SELECT ${PortableHash.h8Sql("lpad(CAST(o_custkey AS VARCHAR), 8, '0')")} AS h
         |  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'),
         |mb AS (${(1 to BloomK).map(j => s"SELECT ${bloomBitSql(j)} AS bit FROM mh")
            .mkString(" UNION ALL ")}),
         |words AS (SELECT bit // 63 AS word,
         |    CAST(bit_or(CAST(1 AS BIGINT) << CAST(bit % 63 AS INT)) AS BIGINT) AS bits
         |  FROM mb GROUP BY bit // 63),
         |pk AS (SELECT c_custkey,
         |    ${PortableHash.h8Sql("lpad(CAST(c_custkey AS VARCHAR), 8, '0')")} AS h
         |  FROM customer),
         |pq AS (SELECT c_custkey,
         |    ${(1 to BloomK).map(j =>
             s"${bloomBitSql(j)} // 63 AS word$j, " +
             s"(CAST(1 AS BIGINT) << CAST(${bloomBitSql(j)} % 63 AS INT)) AS mask$j")
            .mkString(", ")}
         |  FROM pk)
         |SELECT pq.c_custkey,
         |  CAST(CASE WHEN ${(1 to BloomK).map(j =>
             s"(coalesce(w$j.bits, 0) & pq.mask$j) != 0").mkString(" AND ")}
         |       THEN 1 ELSE 0 END AS BIGINT) AS bloom_hit,
         |  CAST(CASE WHEN pq.c_custkey IN (
         |      SELECT o_custkey FROM orders
         |      WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         |       THEN 1 ELSE 0 END AS BIGINT) AS exact_in
         |FROM pq ${(1 to BloomK).map(j => s"LEFT JOIN words w$j ON w$j.word = pq.word$j")
            .mkString(" ")}
         |ORDER BY pq.c_custkey""".stripMargin) { (spark, sfDir) =>
      val recent = Tables.orders(spark, sfDir)
        .filter(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
        .select(col("o_custkey"))
      val words = bloomWords(recent, col("o_custkey"))
      val h = PortableHash.h8(lpad(col("c_custkey").cast("string"), 8, "0"))
      val probe = Tables.customer(spark, sfDir)
        .select((col("c_custkey") +: (1 to BloomK).map(j =>
          (PortableHash.minhashPerm(h, 5 + j) % BloomBits).as(s"bit$j"))): _*)
        .selectExpr(("c_custkey" +: (1 to BloomK).flatMap(j => Seq(
          s"bit$j DIV 63 AS word$j",
          s"shiftleft(CAST(1 AS BIGINT), CAST(bit$j % 63 AS INT)) AS mask$j"))): _*)
      val joined = (1 to BloomK).foldLeft(probe) { (acc, j) =>
        acc.join(broadcast(words.select(col("word").as(s"w$j"), col("bits").as(s"bits$j"))),
          col(s"word$j") === col(s"w$j"), "left")
      }
      val hit = (1 to BloomK).map(j =>
        (coalesce(col(s"bits$j"), lit(0L)).bitwiseAND(col(s"mask$j")) =!= 0))
        .reduce(_ && _)
      val members = recent.select(col("o_custkey").as("c_custkey")).distinct()
        .withColumn("m", lit(1L))
      joined.join(broadcast(members), Seq("c_custkey"), "left")
        .select(col("c_custkey"), hit.cast("long").as("bloom_hit"),
          coalesce(col("m"), lit(0L)).as("exact_in"))
        .orderBy("c_custkey")
    },

    // Runtime-filter join: the bloom semi-join reduction a 100 TB shuffle
    // join leans on (Spark's own InjectRuntimeFilter does this with its
    // internal BloomFilterAggregate; here the engine's portable bloom makes
    // the plan explicit and oracle-checkable). The dim-side predicate — one
    // market segment's high-balance customers, ~4% of the dim — builds the
    // 4096-bit filter in ONE constant-output aggregation; the fact scan
    // probes the broadcast word table and discards non-members BEFORE any
    // join, so only (true matches + false positives) rows reach the join.
    // Bloom membership has no false negatives, so prefilter→exact-join
    // returns exactly the unfiltered join's rows — which is precisely what
    // the oracle (a plain join, no bloom anywhere) checks. At scale the
    // payoff is the shuffle that never happens: ~96% of fact rows are
    // dropped INSIDE the scan stage — the ≤66-long word table collects to
    // the driver (bounded by the filter shape, not the data — the PQ-
    // codebook pattern) and probes as an inlined literal array, so the
    // whole prefilter is per-row arithmetic in the scan's codegen span,
    // exactly how engines ship runtime filters to scans (vs the 4-way
    // broadcast-join formulation, measured ~4x slower at sf0.1: four
    // build-side stages + a 4-join chain for what is one array lookup).
    GraftQuery("join_bloom_prefilter",
      """WITH d AS (SELECT c_custkey FROM customer
        |           WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 8000)
        |SELECT o.o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders o JOIN d ON d.c_custkey = o.o_custkey
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val dim = Tables.customer(spark, sfDir)
        .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 8000)
        .select("c_custkey")
      // materialize the filter: ≤ ⌈BloomBits/63⌉ longs, indexed by word
      val wordArr = new Array[Long](BloomBits / 63 + 1)
      bloomWords(dim, col("c_custkey")).collect()
        .foreach(r => wordArr(r.getLong(0).toInt) = r.getLong(1))
      val wordsLit = array(wordArr.toSeq.map(lit(_)): _*)
      // the DIGIT form of H8: predicate pushdown re-inlines the hash into
      // every filter conjunct (8x per row, no CSE), so the hash must be
      // cheap standalone — the string-chain form here was measured at
      // ~10x the whole query's runtime
      val h = PortableHash.h8Digits(col("o_custkey"))
      val withBits = Tables.orders(spark, sfDir)
        .select((Seq(col("o_custkey"), col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast("long").as("cents")) ++
          (1 to BloomK).map(j =>
            (PortableHash.minhashPerm(h, 5 + j) % BloomBits).as(s"bit$j"))): _*)
      val hit = (1 to BloomK).map { j =>
        (element_at(wordsLit, (floor(col(s"bit$j") / 63) + 1).cast("int"))
          .bitwiseAND(call_function("shiftleft", lit(1L),
            (col(s"bit$j") % 63).cast("int"))) =!= 0)
      }.reduce(_ && _)
      withBits
        .filter(hit) // the prefilter: fact rows drop inside the scan stage
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"))
        .orderBy("o_orderpriority")
    },

    // STREAMING bloom-filter maintenance, registered and oracled: purchase
    // events flow through a running bit-OR aggregation whose state IS the
    // filter (≤ 66 word rows forever — bounded with no watermark because
    // OR-state cannot grow), drained AvailableNow and hash-compared
    // against the batch word table in DuckDB. bloomBitRows is shared with
    // events_bloom, so the incremental filter cannot drift from the
    // oracled batch construction.
    GraftQuery("stream_bloom",
      s"""WITH mh AS (SELECT ${PortableHash.h8Sql("lpad(CAST(user_id AS VARCHAR), 8, '0')")} AS h
         |  FROM events WHERE event_type = 'purchase'),
         |mb AS (${(1 to BloomK).map(j => s"SELECT ${bloomBitSql(j)} AS bit FROM mh")
            .mkString(" UNION ALL ")})
         |SELECT bit // 63 AS word,
         |    CAST(bit_or(CAST(1 AS BIGINT) << CAST(bit % 63 AS INT)) AS BIGINT) AS bits
         |FROM mb GROUP BY bit // 63 ORDER BY word""".stripMargin) { (spark, sfDir) =>
      val words = graft.streaming.StreamOps.bloomFilterWords(
        graft.streaming.StreamOps.eventStream(spark, sfDir))
      graft.streaming.StreamOps
        .runToCompletion(words, "stream_bloom")
        .orderBy("word")
    },

    GraftQuery("stream_hll",
      s"""WITH k AS (SELECT user_id,
         |    ${PortableHash.h8Sql("lpad(CAST(user_id AS VARCHAR), 8, '0')")} AS h
         |  FROM events),
         |v AS (SELECT ((${permA(5)} * (h % $P) + ${permB(5)}) % $P) AS v FROM k),
         |wr AS (SELECT v % 64 AS bucket,
         |         CAST(CASE WHEN v // 64 = 0 THEN 26
         |              ELSE 26 - length(bin(v // 64)) END AS BIGINT) AS rho FROM v)
         |SELECT bucket, CAST(max(rho) AS BIGINT) AS m
         |FROM wr GROUP BY bucket ORDER BY bucket""".stripMargin) { (spark, sfDir) =>
      val regs = graft.streaming.StreamOps.hllRegisters(
        graft.streaming.StreamOps.eventStream(spark, sfDir))
      graft.streaming.StreamOps
        .runToCompletion(regs, "stream_hll")
        .orderBy("bucket")
    },

    // Deterministic equi-width histogram sketch — the sketch family's
    // quantile member, and the 100 TB substitute for the exact medians
    // the MAD fence computes (exact percentile buffers every value;
    // HistBins counters per key are constant memory at any scale, the
    // same state story as count-min/HLL/bloom). Two exact hash
    // aggregations: the per-type (lo, hi, n) bin spec, then per-(type,
    // bin) counts; quantile q reports the LOWER EDGE of the bin whose
    // cumulative count first reaches ceil(q·n) (cum·den ≥ num·n in
    // integers — no float ranks), so estimates are integer-exact and
    // off by at most one bin width. The window cumsum runs over ≤
    // HistBins rows per type.
    GraftQuery("events_hist_quantiles", histOracleSql) { (spark, sfDir) =>
      val e = eventCents(Tables.events(spark, sfDir))
      val spec = histSpec(e)
      histQuantiles(histBins(e, spec), spec)
    },

    // STREAMING histogram maintenance, registered and oracled: bin specs
    // are a batch-computed corpus model (the stream-static pattern —
    // retraining the bin layout is a batch snapshot, exactly like the
    // k-means codebook behind stream_kmeans_assign); each arriving event
    // increments its (type, bin) counter, so the running aggregation
    // state IS the histogram — ≤ HistBins rows per type forever, no
    // watermark because the state cannot grow. Binning and the quantile
    // fold are shared expression-for-expression with the batch query, so
    // the incremental histogram cannot drift from the oracled one.
    GraftQuery("stream_hist_quantiles", histOracleSql) { (spark, sfDir) =>
      val spec = histSpec(eventCents(Tables.events(spark, sfDir)))
      val bins = histBins(
        eventCents(graft.streaming.StreamOps.eventStream(spark, sfDir)), spec)
      val drained = graft.streaming.StreamOps
        .runToCompletion(bins, "stream_hist")
      histQuantiles(drained, spec)
    })

  // ---- deterministic equi-width histogram sketch (quantiles) ----

  /** (event_type, cents) — works on batch AND streaming event frames */
  private[graft] def eventCents(events: DataFrame): DataFrame =
    events.select(col("event_type"),
      floor(col("value") * 100).cast("long").as("cents"))

  /** per-type bin layout (lo, n, width): width = (hi−lo) DIV B + 1 keeps
    * every bin index inside [0, B−1] for any range, including hi == lo */
  private[graft] def histSpec(e: DataFrame): DataFrame =
    e.groupBy("event_type")
      .agg(min("cents").as("lo"), max("cents").as("hi"), count(lit(1)).as("n"))
      .select(col("event_type"), col("lo"), col("n"),
        expr(s"(hi - lo) DIV $HistBins + 1").as("width"))

  /** per-(type, bin) counts against a broadcast bin layout — one running
    * hash aggregation, bounded by HistBins rows per type; cents − lo ≥ 0
    * so truncating DIV is floor */
  private[graft] def histBins(e: DataFrame, spec: DataFrame): DataFrame =
    e.join(broadcast(spec.select("event_type", "lo", "width")), "event_type")
      .select(col("event_type"), expr("(cents - lo) DIV width").as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("cnt"))

  /** fold bin counts into p50/p95/p99 lower-edge estimates (shared by the
    * batch query and the streaming drain, so the two cannot diverge) */
  private[graft] def histQuantiles(bins: DataFrame, spec: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("bin")
    bins.withColumn("cum", sum("cnt").over(w))
      .join(broadcast(spec), "event_type")
      .groupBy("event_type")
      .agg(max("n").as("n"), max("width").as("width"), max("lo").as("lo"),
        min(when(col("cum") * 2 >= col("n"), col("bin"))).as("b50"),
        min(when(col("cum") * 20 >= col("n") * 19, col("bin"))).as("b95"),
        min(when(col("cum") * 100 >= col("n") * 99, col("bin"))).as("b99"))
      .select(col("event_type"), col("n"), col("width"),
        (col("lo") + col("b50") * col("width")).as("p50_est"),
        (col("lo") + col("b95") * col("width")).as("p95_est"),
        (col("lo") + col("b99") * col("width")).as("p99_est"))
      .orderBy("event_type")
  }

  /** one oracle for both the batch and streaming histogram queries */
  private def histOracleSql: String =
    s"""WITH e AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
       |spec AS (SELECT event_type, min(cents) AS lo, count(*) AS n,
       |           (max(cents) - min(cents)) // $HistBins + 1 AS width
       |         FROM e GROUP BY 1),
       |b AS (SELECT e.event_type, (cents - lo) // width AS bin, count(*) AS cnt
       |      FROM e JOIN spec USING (event_type) GROUP BY 1, 2),
       |c AS (SELECT event_type, bin,
       |        SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum FROM b)
       |SELECT s.event_type, s.n, CAST(s.width AS BIGINT) AS width,
       |  CAST(s.lo + min(CASE WHEN cum * 2 >= s.n THEN bin END) * s.width AS BIGINT) AS p50_est,
       |  CAST(s.lo + min(CASE WHEN cum * 20 >= s.n * 19 THEN bin END) * s.width AS BIGINT) AS p95_est,
       |  CAST(s.lo + min(CASE WHEN cum * 100 >= s.n * 99 THEN bin END) * s.width AS BIGINT) AS p99_est
       |FROM c JOIN spec s USING (event_type)
       |GROUP BY s.event_type, s.n, s.width, s.lo ORDER BY s.event_type""".stripMargin

  /** per-(event_type, day, bucket) register file from (event_type, day,
    * bucket, rho) rows — the materialize-once daily sketch tier that
    * sketch_hll_merge rolls up; exposed for the spec's algebra pin */
  private[graft] def dailyHllRegisters(wr: DataFrame): DataFrame =
    wr.groupBy("event_type", "day", "bucket").agg(max("rho").as("m"))

  /** batch HLL estimate body (shared so the query list stays readable) */
  private def hllEstimate(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
      val events = Tables.events(spark, sfDir)
      val wr = hllBucketRho(events)
      val reg = spark.range(0, 64).select(col("id").as("bucket"))
        .join(wr.groupBy("bucket").agg(max("rho").as("mr")), Seq("bucket"), "left")
        .select(coalesce(col("mr"), lit(0L)).as("m"))
      val s = reg.agg(
        expr("CAST(sum(shiftleft(CAST(1 AS BIGINT), CAST(26 - m AS INT))) AS BIGINT)")
          .as("s_scaled"),
        expr("CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)").as("vz"))
      val e = events.agg(count_distinct(col("user_id")).cast("long").as("exact_n"))
      s.crossJoin(e)
        .selectExpr(
          "CAST(194888436023296L DIV (1000 * s_scaled) AS BIGINT) AS raw_est",
          "vz", "exact_n")
        .selectExpr(
          s"""CAST(CASE WHEN raw_est <= 160 AND vz > 0
             |     THEN element_at(array(${LcTable.mkString(", ")}), CAST(vz AS INT))
             |     ELSE raw_est END AS BIGINT) AS est_n""".stripMargin,
          "exact_n")
  }
}
