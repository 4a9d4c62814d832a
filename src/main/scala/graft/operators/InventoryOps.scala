package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamReader, Trigger}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.fixtures.RefFixtures._

/** The reference's inventory/ACL dataflow pipelines re-expressed as
  * declarative Spark plans (SURVEY.md §2.1-§2.5).
  *
  * Scale notes: the inventory is the 100 TB fact side — every query here
  * is a scan→project→filter/agg pipeline with no shuffle beyond the final
  * aggregation, and the identity map (thousands of principals,
  * adls_copy_utils.py:88-94) is always the broadcast side of a join.
  */
object InventoryOps {

  /** Latest-wins CDC/MERGE compaction: `updates ∪ (base ANTI-JOIN
    * updates)` on `key`. Deterministically equivalent to the per-key
    * row_number latest-wins form exactly when every key has ONE
    * unambiguous winner:
    *   - a key with update rows must have exactly one (several v=2 rows
    *     are a row_number tie — and the union would emit them all);
    *   - a key with NO update row must be unique in base (the anti-join
    *     keeps every unmatched duplicate; row_number keeps one).
    * Duplicated base rows whose key IS updated are fine — the anti-join
    * removes them all and the one update row wins, same as the oracle.
    *
    * That precondition is CHECKED LOUDLY here rather than assumed (it
    * previously lived only in a comment and a data-shape test, so a
    * future dataset violating it would have silently diverged from the
    * oracle): one hash-agg pass per side + a broadcast-sized join of the
    * per-key counts, short-circuited by limit(1). A pipeline that has
    * already validated its keys upstream skips the probe with
    * `spark.graft.merge.checkKeys=false`; the merge itself never needed
    * the extra pass. */
  def mergeUpsert(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val check = base.sparkSession.conf
      .getOption("spark.graft.merge.checkKeys").forall(_.toBoolean)
    if (check) {
      // one tagged union + ONE hash agg (was: two aggs + a full-outer
      // join — a second full exchange of the base keys; measured 58 s of
      // a 78 s sf10 run). Partial aggregation collapses each partition's
      // duplicates map-side, so the exchange carries ~one row per
      // distinct key per partition.
      val bad = base.select(col(key), lit(0L).as("__upd"))
        .unionByName(updates.select(col(key), lit(1L).as("__upd")))
        .groupBy(col(key))
        .agg(sum("__upd").as("n_upd"), count(lit(1)).as("n_all"))
        .filter(col("n_upd") > 1 || (col("n_upd") === 0 && col("n_all") > 1))
        .limit(1).collect()
      require(bad.isEmpty,
        s"mergeUpsert: $key '${bad.headOption.map(_.get(0)).orNull}' has no " +
          "unambiguous latest-wins winner (several update rows, or an " +
          "un-updated duplicate in base) — the anti-join merge would silently " +
          "diverge from the row_number oracle; fix the batch or set " +
          "spark.graft.merge.checkKeys=false if keys are validated upstream")
    }
    base.join(updates.select(key), Seq(key), "left_anti")
      .unionByName(updates)
  }

  /** shared ACL-entry parser: "[scope:]type:id:perms" positional logic
    * (copy-acls.py:14-20; 3- vs 4-field split at :17). */
  private def parseEntry(df: DataFrame): DataFrame =
    df.withColumn("parts", split(col("entry"), ":", -1))
      .withColumn("nf", size(col("parts")))
      .withColumn("atype", when(col("nf") === 4, element_at(col("parts"), 2))
        .otherwise(element_at(col("parts"), 1)))
      .withColumn("aid", when(col("nf") === 4, element_at(col("parts"), 3))
        .otherwise(element_at(col("parts"), 2)))

  /** DuckDB twin of [[ownershipTree]]'s record set (every column a pure
    * function of the DISTINCT name keys, so the duplicated lineitem tuple
    * writes byte-identical records and the replay is unambiguous) */
  private val OwnTreeCte: String =
    """owntree AS (
      |  SELECT concat('/data/part=', l_partkey, '/f-', l_orderkey, '-', l_linenumber, '-', l_suppkey, '.dat') AS name,
      |         concat('user', l_suppkey) AS owner,
      |         concat('grp', l_partkey % 7) AS grp,
      |         CASE WHEN l_suppkey % 3 = 0 THEN 'rwxr-x---' ELSE 'rw-r--r--' END AS perms,
      |         CAST(l_linenumber AS BIGINT) AS length
      |  FROM (SELECT DISTINCT l_partkey, l_orderkey, l_linenumber, l_suppkey
      |        FROM lineitem WHERE l_partkey % 200 = 0))""".stripMargin

  val queries: Seq[GraftQuery] = Seq(

    // op 16: inventory projection — dirname/basename/depth derivations
    GraftQuery("inv_projection",
      s"""WITH ${InvCte}
         |SELECT name, parent_directory, is_folder, owner, grp, perms, length,
         |       regexp_replace(name, '/[^/]*$$', '') AS dirname,
         |       regexp_extract(name, '[^/]*$$') AS basename,
         |       length(name) - length(replace(name, '/', '')) AS depth
         |FROM inv ORDER BY name""".stripMargin) { (spark, sfDir) =>
      inventory(spark, sfDir)
        .withColumn("dirname", regexp_replace(col("name"), "/[^/]*$", ""))
        .withColumn("basename", regexp_extract(col("name"), "[^/]*$", 0))
        .withColumn("depth", length(col("name")) - length(regexp_replace(col("name"), "/", "")))
        .orderBy("name")
    },

    // op 17: folder/file phase predicate
    GraftQuery("inv_phase_split",
      s"""WITH ${InvCte}
         |SELECT is_folder, count(*) AS n, CAST(sum(length) AS BIGINT) AS total_len
         |FROM inv GROUP BY is_folder ORDER BY is_folder""".stripMargin) { (spark, sfDir) =>
      inventory(spark, sfDir).groupBy("is_folder")
        .agg(count(lit(1)).as("n"), sum("length").as("total_len"))
        .orderBy("is_folder")
    },

    // op 18: prefix predicate pushed into the scan
    GraftQuery("inv_prefix_scan",
      s"""WITH ${InvCte}
         |SELECT count(*) AS n, CAST(sum(length) AS BIGINT) AS total_len
         |FROM inv WHERE name LIKE '/data/part=1%'""".stripMargin) { (spark, sfDir) =>
      inventory(spark, sfDir).filter(col("name").startsWith("/data/part=1"))
        .agg(count(lit(1)).as("n"), sum("length").as("total_len"))
    },

    // op 19: regex exclusion filters (distcp -filters, README.md:94-99)
    GraftQuery("inv_regex_exclude",
      s"""WITH ${InvCte}
         |SELECT count(*) AS n, CAST(sum(length) AS BIGINT) AS total_len FROM inv
         |WHERE NOT regexp_matches(name, '.*part=1[0-9]/.*')
         |  AND NOT regexp_matches(name, '.*-3\\.dat$$')""".stripMargin) { (spark, sfDir) =>
      // same patterns a distcp -filters file carries; the file-driven
      // form (Sources.exclusionFilter) is proven equivalent in SourcesSpec
      val exclusions = Seq(".*part=1[0-9]/.*", ".*-3\\.dat$")
      val keep = exclusions.map(p => !col("name").rlike(p)).reduce(_ && _)
      inventory(spark, sfDir).filter(keep)
        .agg(count(lit(1)).as("n"), sum("length").as("total_len"))
    },

    // op 23: broadcast identity lookup join with pass-through fallback
    GraftQuery("identity_join",
      s"""WITH ${InvCte}, ${IdMapCte},
         |pr AS (SELECT DISTINCT * FROM (
         |  SELECT 'user' AS itype, owner AS pid FROM inv
         |  UNION ALL SELECT 'group' AS itype, grp AS pid FROM inv))
         |SELECT pr.itype, pr.pid, coalesce(m.target, pr.pid) AS mapped
         |FROM pr LEFT JOIN idmap m ON m.itype = pr.itype AND m.source = pr.pid
         |ORDER BY 1, 2""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val inv = inventory(spark, sfDir)
      val principals = inv.select(lit("user").as("itype"), col("owner").as("pid"))
        .unionByName(inv.select(lit("group").as("itype"), col("grp").as("pid")))
        .distinct().alias("p")
      val m = identityMap(spark, sfDir).alias("m")
      principals.join(broadcast(m),
          col("p.itype") === col("m.itype") && col("p.pid") === col("m.source"), "left")
        .select(col("p.itype").as("itype"), col("p.pid").as("pid"),
          coalesce(col("m.target"), col("p.pid")).as("mapped"))
        .orderBy("itype", "pid")
    },

    // ops 24+22+30k: per-array-element identity join, empty-id guard,
    // comma-joined ACL spec rebuild (copy-acls.py:14-46)
    GraftQuery("acl_map_entries",
      s"""WITH ${AclCte}, ${IdMapCte},
         |ex AS (SELECT file, i AS pos, acl[i] AS entry FROM (
         |  SELECT file, acl, unnest(generate_series(1, len(acl))) AS i FROM aclrec)),
         |p2 AS (SELECT file, pos, string_split(entry, ':') AS parts,
         |              len(string_split(entry, ':')) AS nf FROM ex),
         |p3 AS (SELECT file, pos, parts, nf,
         |              CASE WHEN nf = 4 THEN parts[2] ELSE parts[1] END AS atype,
         |              CASE WHEN nf = 4 THEN parts[3] ELSE parts[2] END AS aid FROM p2),
         |m AS (SELECT p3.*, coalesce(idmap.target, p3.aid) AS mid
         |      FROM p3 LEFT JOIN idmap
         |        ON idmap.itype = p3.atype AND idmap.source = p3.aid AND p3.aid <> ''),
         |r AS (SELECT file, pos,
         |             CASE WHEN nf = 4 THEN concat_ws(':', parts[1], parts[2], mid, parts[4])
         |                  ELSE concat_ws(':', parts[1], mid, parts[3]) END AS mapped FROM m)
         |SELECT file, string_agg(mapped, ',' ORDER BY pos) AS acl_spec
         |FROM r GROUP BY file ORDER BY file""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val exploded = aclRecords(spark, sfDir)
        .select(col("file"), posexplode(col("acl")).as(Seq("pos", "entry")))
      val parsed = parseEntry(exploded).alias("p")
      val m = identityMap(spark, sfDir).alias("m")
      parsed.join(broadcast(m),
          col("p.atype") === col("m.itype") && col("p.aid") === col("m.source")
            && col("p.aid") =!= "", "left")
        .withColumn("mid", coalesce(col("m.target"), col("p.aid")))
        .withColumn("mapped", when(col("nf") === 4,
            concat_ws(":", element_at(col("parts"), 1), element_at(col("parts"), 2),
              col("mid"), element_at(col("parts"), 4)))
          .otherwise(concat_ws(":", element_at(col("parts"), 1), col("mid"),
            element_at(col("parts"), 3))))
        .groupBy("file")
        .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("mapped")))),
          s => s.getField("mapped")), ",").as("acl_spec"))
        .orderBy("file")
    },

    // op 24 (higher-order variant): the same per-element identity mapping
    // without explode/regroup — the identity map is collected (small dim,
    // thousands of principals) into a map literal and applied inside
    // transform(): zero shuffles, the whole rewrite is map-side. This is
    // the shape to prefer at 100 TB; the explode variant above is the
    // general form for dimension tables too big to collect.
    GraftQuery("acl_map_entries_ho",
      s"""WITH ${AclCte}, ${IdMapCte},
         |ex AS (SELECT file, i AS pos, acl[i] AS entry FROM (
         |  SELECT file, acl, unnest(generate_series(1, len(acl))) AS i FROM aclrec)),
         |p2 AS (SELECT file, pos, string_split(entry, ':') AS parts,
         |              len(string_split(entry, ':')) AS nf FROM ex),
         |p3 AS (SELECT file, pos, parts, nf,
         |              CASE WHEN nf = 4 THEN parts[2] ELSE parts[1] END AS atype,
         |              CASE WHEN nf = 4 THEN parts[3] ELSE parts[2] END AS aid FROM p2),
         |m AS (SELECT p3.*, coalesce(idmap.target, p3.aid) AS mid
         |      FROM p3 LEFT JOIN idmap
         |        ON idmap.itype = p3.atype AND idmap.source = p3.aid AND p3.aid <> ''),
         |r AS (SELECT file, pos,
         |             CASE WHEN nf = 4 THEN concat_ws(':', parts[1], parts[2], mid, parts[4])
         |                  ELSE concat_ws(':', parts[1], mid, parts[3]) END AS mapped FROM m)
         |SELECT file, string_agg(mapped, ',' ORDER BY pos) AS acl_spec
         |FROM r GROUP BY file ORDER BY file""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val idm = identityMap(spark, sfDir).collect()
        .map(r => s"${r.getString(0)}:${r.getString(1)}" -> r.getString(2)).toMap
      val mapLit = typedLit(idm)
      val mapped = transform(col("acl"), { e =>
        val parts = split(e, ":", -1)
        val nf = size(parts)
        val atype = when(nf === 4, element_at(parts, 2)).otherwise(element_at(parts, 1))
        val aid = when(nf === 4, element_at(parts, 3)).otherwise(element_at(parts, 2))
        val mid = when(aid === "", aid)
          .otherwise(coalesce(element_at(mapLit, concat(atype, lit(":"), aid)), aid))
        when(nf === 4,
          concat_ws(":", element_at(parts, 1), element_at(parts, 2), mid, element_at(parts, 4)))
          .otherwise(concat_ws(":", element_at(parts, 1), mid, element_at(parts, 3)))
      })
      aclRecords(spark, sfDir)
        .select(col("file"), array_join(mapped, ",").as("acl_spec"))
        .orderBy("file")
    },

    // op 25: distinct identities from ACL records (copy-acls.py:84-104).
    // DELIBERATE DIVERGENCE from the reference: its identity harvester
    // keys on split(":")[0] (copy-acls.py:87-94), so a default-scoped
    // entry like "default:user:x:rwx" is skipped — yet its own
    // map_acl_entry DOES remap scoped entries, i.e. the reference
    // under-collects identities it later tries to map. We harvest with
    // the same 3-vs-4-field positional parse the mapper uses (parseEntry
    // above), so every mappable principal appears in the identity map.
    GraftQuery("acl_distinct_identities",
      s"""WITH ${AclCte},
         |allent AS (SELECT file,
         |    acl || [concat('user:', owner, ':'), concat('group:', grp, ':')] AS entries
         |  FROM aclrec),
         |ex AS (SELECT unnest(entries) AS entry FROM allent),
         |p2 AS (SELECT string_split(entry, ':') AS parts,
         |              len(string_split(entry, ':')) AS nf FROM ex),
         |p3 AS (SELECT CASE WHEN nf = 4 THEN parts[2] ELSE parts[1] END AS itype,
         |              CASE WHEN nf = 4 THEN parts[3] ELSE parts[2] END AS source FROM p2)
         |SELECT DISTINCT itype, source FROM p3
         |WHERE itype IN ('user', 'group') AND source <> ''
         |ORDER BY itype, source""".stripMargin) { (spark, sfDir) =>
      val withOwner = aclRecords(spark, sfDir).select(
        concat(col("acl"), array(
          concat(lit("user:"), col("owner"), lit(":")),
          concat(lit("group:"), col("grp"), lit(":")))).as("entries"))
      val exploded = withOwner.select(explode(col("entries")).as("entry"))
      parseEntry(exploded)
        .filter(col("atype").isin("user", "group") && col("aid") =!= "")
        .select(col("atype").as("itype"), col("aid").as("source"))
        .distinct()
        .orderBy("itype", "source")
    },

    // op 26: distinct identities from the inventory (identity-mapper.py:51-62)
    GraftQuery("inv_distinct_identities",
      s"""WITH ${InvCte}
         |SELECT DISTINCT itype, source FROM (
         |  SELECT 'user' AS itype, owner AS source FROM inv
         |  UNION ALL SELECT 'group' AS itype, grp AS source FROM inv)
         |ORDER BY itype, source""".stripMargin) { (spark, sfDir) =>
      val inv = inventory(spark, sfDir)
      inv.select(lit("user").as("itype"), col("owner").as("source"))
        .unionByName(inv.select(lit("group").as("itype"), col("grp").as("source")))
        .distinct()
        .orderBy("itype", "source")
    },

    // op 33: dirs-before-files phase ordering, dirs by depth. The global
    // ordinal comes from the distributed prefix count (Prefix.scan) —
    // no single-partition window, so the ordering step itself scales past
    // the dirs ≪ files regime the copy executor assumes.
    GraftQuery("phase_order_dirs",
      s"""WITH ${InvCte},
         |d AS (SELECT name, length(name) - length(replace(name, '/', '')) AS depth
         |      FROM inv WHERE is_folder)
         |SELECT row_number() OVER (ORDER BY depth, name) AS idx, name, depth
         |FROM d ORDER BY idx""".stripMargin) { (spark, sfDir) =>
      val dirs = inventory(spark, sfDir).filter(col("is_folder"))
        .withColumn("depth", length(col("name")) - length(regexp_replace(col("name"), "/", "")))
      Prefix.scan(dirs, "idx", Seq(col("depth"), col("name")), lit(1L), Prefix.Sum)
        .select("idx", "name", "depth")
        .orderBy("idx")
    },

    // op 13: identity-mapper rewrite — the in-place metadata update becomes
    // a transformed dataset (rewrite pattern): every inventory row with
    // owner/group remapped through the broadcast dimension, unmapped
    // principals passing through (identity-mapper.py:9-35)
    GraftQuery("inv_remap_owners",
      s"""WITH ${InvCte}, ${IdMapCte}
         |SELECT inv.name,
         |       coalesce(mu.target, inv.owner) AS new_owner,
         |       coalesce(mg.target, inv.grp) AS new_grp,
         |       (mu.target IS NOT NULL OR mg.target IS NOT NULL) AS changed
         |FROM inv
         |LEFT JOIN idmap mu ON mu.itype = 'user' AND mu.source = inv.owner
         |LEFT JOIN idmap mg ON mg.itype = 'group' AND mg.source = inv.grp
         |ORDER BY name""".stripMargin,
      bench = true) { (spark, sfDir) =>
      val inv = inventory(spark, sfDir)
      val idm = identityMap(spark, sfDir)
      val mu = idm.filter(col("itype") === "user")
        .select(col("source").as("u_source"), col("target").as("u_target"))
      val mg = idm.filter(col("itype") === "group")
        .select(col("source").as("g_source"), col("target").as("g_target"))
      inv
        .join(broadcast(mu), col("owner") === col("u_source"), "left")
        .join(broadcast(mg), col("grp") === col("g_source"), "left")
        .select(col("name"),
          coalesce(col("u_target"), col("owner")).as("new_owner"),
          coalesce(col("g_target"), col("grp")).as("new_grp"),
          (col("u_target").isNotNull || col("g_target").isNotNull).as("changed"))
        .orderBy("name")
    },

    // op 34: per-item error tolerance → status column + quarantine counts
    GraftQuery("inv_error_status",
      s"""WITH ${InvCte}
         |SELECT status, count(*) AS n, CAST(sum(length) AS BIGINT) AS total_len FROM (
         |  SELECT CASE WHEN NOT is_folder AND length % 97 = 0 THEN 'failed'
         |              WHEN NOT is_folder AND length % 97 = 1 THEN 'skipped'
         |              ELSE 'ok' END AS status, length FROM inv)
         |GROUP BY status ORDER BY status""".stripMargin) { (spark, sfDir) =>
      inventory(spark, sfDir)
        .withColumn("status",
          when(!col("is_folder") && col("length") % 97 === 0, lit("failed"))
            .when(!col("is_folder") && col("length") % 97 === 1, lit("skipped"))
            .otherwise(lit("ok")))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("length").as("total_len"))
        .orderBy("status")
    },

    // CDC/MERGE upsert compaction: a deterministic change batch (~30% of
    // files re-landed with a migrated owner and a grown length, version 2)
    // merged into the base inventory latest-wins per path. The Spark shape
    // is updates ∪ (base ANTI-JOIN updates): with a typical change batch
    // (≪ base) the anti-join broadcasts and the 100 TB base is never
    // shuffled OR sorted — strictly better than the groupBy+max(struct)
    // form (struct buffers are not hash-aggregable, so that compiles to a
    // SortAggregate) and than a per-key window. When the batch outgrows
    // the broadcast threshold AQE degrades to a shuffled anti-join on its
    // own — the right fallback, not a config cliff. (The oracle's
    // row_number window is the same latest-wins semantics; name uniqueness
    // among non-folder base rows — required for the equivalence — is
    // CHECKED loudly by mergeUpsert, not assumed.)
    GraftQuery("inv_merge_upsert",
      s"""WITH ${InvCte},
         |base AS (SELECT name, owner, length, CAST(1 AS BIGINT) AS v
         |         FROM inv WHERE NOT is_folder),
         |upd AS (SELECT name, concat('migrated-', owner) AS owner,
         |               length + 4096 AS length, CAST(2 AS BIGINT) AS v
         |        FROM base WHERE length % 10 < 3),
         |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
         |r AS (SELECT name, owner, length, v,
         |        row_number() OVER (PARTITION BY name ORDER BY v DESC) AS rn FROM u)
         |SELECT name, owner, length, v FROM r WHERE rn = 1 ORDER BY name""".stripMargin,
      bench = true) {
      (spark, sfDir) =>
      // base is consumed 4x (key-check probe on both sides, the anti-join,
      // the union, and upd derives from it) and each evaluation re-derives
      // the name strings from lineitem — one materialization amortizes the
      // concat-heavy projection across all of them. The cache is
      // hash-partitioned by the merge key (r12, guide §2.4): the probe's
      // per-key agg and the anti-join then both reuse the cache's
      // partitioning (zero exchanges — before, the single-split scan left
      // the cache in ONE partition, serializing every per-row pass, and
      // the anti-join shuffled both sides before AQE's late broadcast
      // conversion could help)
      val base = inventory(spark, sfDir).filter(!col("is_folder"))
        .select(col("name"), col("owner"), col("length"), lit(1L).as("v"))
        .repartition(col("name"))
        .transform(graft.CacheTracker.persist)
      val upd = base.filter(col("length") % 10 < 3)
        .select(col("name"), concat(lit("migrated-"), col("owner")).as("owner"),
          (col("length") + 4096).as("length"), lit(2L).as("v"))
      mergeUpsert(base, upd, "name").orderBy("name")
    },

    // BOM/manifest projection (reference README.md:150-152: "Verify
    // against the BOM files that all your data is uploaded" — the only
    // post-copy correctness step the reference prescribes). Per-directory
    // (file count, total bytes, order-insensitive names checksum): the
    // source half of CopyExecutor.verifyCopy, which compares this exact
    // triple against a destination listing. The names checksum is a SUM
    // of 32-bit md5 prefixes — commutative, so the aggregation is one
    // hash agg with no sort and no collect_list (a per-directory name
    // list would balloon on a 10M-file directory); 32-bit terms keep the
    // bigint sum overflow-free to ~2^31 files per directory. All three
    // engines (Spark conv/substring/md5, DuckDB '0x'-cast, the executor's
    // MessageDigest in CopyExecutor.nameChecksum) hash the same UTF-8
    // rooted path and MUST stay in lockstep.
    GraftQuery("inv_manifest",
      s"""WITH ${InvCte}
         |SELECT parent_directory AS dir, count(*) AS n_files,
         |       CAST(sum(length) AS BIGINT) AS total_bytes,
         |       CAST(sum(CAST(('0x' || substr(md5(name), 1, 8)) AS BIGINT)) AS BIGINT) AS names_sum
         |FROM inv WHERE NOT is_folder
         |GROUP BY parent_directory ORDER BY dir""".stripMargin) { (spark, sfDir) =>
      inventory(spark, sfDir).filter(!col("is_folder"))
        .groupBy(col("parent_directory").as("dir"))
        .agg(
          count(lit(1)).as("n_files"),
          sum("length").as("total_bytes"),
          sum(conv(substring(md5(col("name").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("names_sum"))
        .orderBy("dir")
    },

    // World-readable exposure audit — the security sweep a migration runs
    // BEFORE copying into a broader-access store (the reference's whole
    // job is moving permissioned trees between stores): per directory,
    // how many files (and bytes) the POSIX "other" triad exposes
    // (perms[7] = 'r'), with the share in exact ppm. One hash agg over
    // the inventory; the exposure decision is a per-row substring test
    // inside the scan's codegen span.
    GraftQuery("inv_world_readable",
      s"""WITH $InvFilesCte
         |SELECT parent_directory AS dir,
         |  CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(CASE WHEN substr(perms, 7, 1) = 'r' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_world_r,
         |  CAST(sum(CASE WHEN substr(perms, 7, 1) = 'r' THEN length ELSE 0 END) AS BIGINT)
         |    AS bytes_world_r,
         |  CAST(sum(CASE WHEN substr(perms, 7, 1) = 'r' THEN 1 ELSE 0 END) * 1000000
         |       // count(*) AS BIGINT) AS world_ppm
         |FROM invf GROUP BY parent_directory ORDER BY dir""".stripMargin) {
      (spark, sfDir) =>
      invFiles(spark, sfDir)
        .withColumn("wr", (substring(col("perms"), 7, 1) === "r").cast("long"))
        .groupBy(col("parent_directory").as("dir"))
        .agg(count(lit(1)).as("n_files"), sum("wr").as("n_world_r"),
          sum(col("wr") * col("length")).as("bytes_world_r"))
        .withColumn("world_ppm", expr("n_world_r * 1000000 DIV n_files"))
        .orderBy("dir")
    },

    // The DataSource-V2 recursive inventory scan as a CORRECTNESS row: a
    // deterministic on-disk tree is materialized from lineitem (every
    // partkey % 200 == 0 line becomes /data/part=<pk>/f-<ok>-<ln>.dat of
    // l_linenumber bytes, built once per JVM), then read back through
    // `spark.read.format("graft-inventory")` with a files-only pushdown
    // and rolled up per directory — and the oracle replays the SAME
    // aggregate from the lineitem rows the tree was derived from. What
    // this pins: the V2 walk finds every file exactly once, its pushdown
    // drops folders without dropping files, and the byte lengths survive
    // the filesystem round trip.
    GraftQuery("inv_scan_dsv2",
      """WITH f AS (SELECT l_partkey, l_orderkey, l_linenumber
        |           FROM lineitem WHERE l_partkey % 200 = 0)
        |SELECT concat('/data/part=', l_partkey) AS dir,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(l_linenumber) AS BIGINT) AS bytes
        |FROM f GROUP BY l_partkey ORDER BY dir""".stripMargin) { (spark, sfDir) =>
      val root = dsv2FixtureTree(spark, sfDir)
      spark.read.format("graft-inventory").option("root", root).load()
        .filter(!col("is_folder") && col("parent_directory").startsWith("/data/"))
        .groupBy(col("parent_directory").as("dir"))
        .agg(count(lit(1)).as("n_files"), sum("length").as("bytes"))
        .orderBy("dir")
    },

    // AGGREGATE pushdown through the V2 source: the most common query over
    // a billion-file listing is exactly this manifest rollup —
    // count/sum/min/max per directory — and with
    // SupportsPushDownAggregates the walk computes the partials DURING the
    // listing, so one row per (subtree-partition, directory) reaches Spark
    // instead of one per file (the reference's driver-side `hadoop fs -du`
    // rollup, generate-file-list.py:20-26, as a distributed pushdown).
    // Folders count as entries of their parent (length 0), so the oracle
    // reconstructs the full tree — files from lineitem, the part=pk folder
    // set, and the root's /data folder — and replays the same rollup.
    // Plan + the rows-emitted observable are pinned in PlanSpec.
    GraftQuery("inv_agg_pushdown",
      """WITH f AS (SELECT l_partkey AS pk, l_linenumber
        |           FROM lineitem WHERE l_partkey % 200 = 0),
        |entries AS (
        |  SELECT concat('/data/part=', pk) AS dir,
        |         CAST(l_linenumber AS BIGINT) AS length FROM f
        |  UNION ALL
        |  SELECT '/data' AS dir, CAST(0 AS BIGINT) FROM (SELECT DISTINCT pk FROM f)
        |  UNION ALL
        |  SELECT '/' AS dir, CAST(0 AS BIGINT))
        |SELECT dir, CAST(count(*) AS BIGINT) AS n_entries,
        |       CAST(sum(length) AS BIGINT) AS total_bytes,
        |       CAST(min(length) AS BIGINT) AS min_bytes,
        |       CAST(max(length) AS BIGINT) AS max_bytes
        |FROM entries GROUP BY dir ORDER BY dir""".stripMargin) { (spark, sfDir) =>
      val root = dsv2FixtureTree(spark, sfDir)
      spark.read.format("graft-inventory").option("root", root).load()
        .groupBy(col("parent_directory"))
        .agg(count(lit(1)).as("n_entries"), sum("length").as("total_bytes"),
          min("length").as("min_bytes"), max("length").as("max_bytes"))
        .withColumnRenamed("parent_directory", "dir")
        .orderBy("dir")
    },

    // Aggregate pushdown COMPOSED with an exactly-pushed prefix filter —
    // "manifest rollup UNDER A PREFIX", the single most common real
    // listing query at 100 TB (the reference always rolls up one
    // migration root, never the whole namespace —
    // generate-file-list.py:20-26 takes a source-path argument). The walk
    // applies the StartsWith exactly per entry (so the filter is claimed,
    // not residual), prunes descent to compatible subtrees, AND folds the
    // rollup during the listing: one partial row per (partition, matching
    // directory) reaches Spark. Plan (PushedAggregation + PushedFilters,
    // no post-scan Filter) and the rows-emitted observable are pinned in
    // PlanSpec/SourcesSpec.
    GraftQuery("inv_agg_pushdown_prefix",
      """WITH f AS (SELECT l_partkey AS pk, l_linenumber
        |           FROM lineitem WHERE l_partkey % 200 = 0)
        |SELECT concat('/data/part=', pk) AS dir,
        |       CAST(count(*) AS BIGINT) AS n_entries,
        |       CAST(sum(l_linenumber) AS BIGINT) AS total_bytes,
        |       CAST(min(l_linenumber) AS BIGINT) AS min_bytes,
        |       CAST(max(l_linenumber) AS BIGINT) AS max_bytes
        |FROM f GROUP BY pk ORDER BY dir""".stripMargin) { (spark, sfDir) =>
      val root = dsv2FixtureTree(spark, sfDir)
      spark.read.format("graft-inventory").option("root", root).load()
        .filter(col("parent_directory").startsWith("/data/"))
        .groupBy(col("parent_directory"))
        .agg(count(lit(1)).as("n_entries"), sum("length").as("total_bytes"),
          min("length").as("min_bytes"), max("length").as("max_bytes"))
        .withColumnRenamed("parent_directory", "dir")
        .orderBy("dir")
    },

    // Incremental rescan — "what changed since the last sync watermark",
    // the query every RE-RUN migration issues before copying (the
    // reference's pre-flight re-run skips already-copied files,
    // README.md:150-152; expressed here as an mtime watermark over the
    // listing instead of a per-file existence probe). `mtime_ms >= T` and
    // `is_folder = false` are exactly-applied pushed filters, and the
    // per-directory delta rollup folds into the walk on top of them —
    // three pushdowns composed on one scan, one partial row per changed
    // directory back to Spark. Fixture file mtimes are deterministic
    // ((orderkey mod 1000) seconds), so the whole thing oracles from
    // lineitem.
    GraftQuery("inv_incremental_scan",
      """WITH f AS (SELECT l_partkey AS pk, l_orderkey AS ok, l_linenumber
        |           FROM lineitem WHERE l_partkey % 200 = 0)
        |SELECT concat('/data/part=', pk) AS dir,
        |       CAST(count(*) AS BIGINT) AS n_new,
        |       CAST(sum(l_linenumber) AS BIGINT) AS new_bytes
        |FROM f WHERE (ok % 1000) * 1000 >= 500000
        |GROUP BY pk ORDER BY dir""".stripMargin) { (spark, sfDir) =>
      val root = dsv2FixtureTree(spark, sfDir)
      spark.read.format("graft-inventory").option("root", root).load()
        .filter(!col("is_folder") && col("mtime_ms") >= 500000L)
        .groupBy(col("parent_directory"))
        .agg(count(lit(1)).as("n_new"), sum("length").as("new_bytes"))
        .withColumnRenamed("parent_directory", "dir")
        .orderBy("dir")
    },

    // The minPartitions SPLIT plan end-to-end through the oracle: same
    // tree, same per-directory files-only rollup, but planned at a
    // 64-partition fan-out floor (level-synchronous split + round-robin
    // grouping) with the is_folder filter and the aggregate both pushed —
    // a wrong group boundary, a dir double-walked across units, or a
    // partial merged twice would all hash-mismatch against the plain
    // lineitem replay.
    GraftQuery("inv_scan_split",
      """WITH f AS (SELECT l_partkey AS pk, l_linenumber
        |           FROM lineitem WHERE l_partkey % 200 = 0)
        |SELECT concat('/data/part=', pk) AS dir,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(l_linenumber) AS BIGINT) AS bytes
        |FROM f GROUP BY pk ORDER BY dir""".stripMargin) { (spark, sfDir) =>
      val root = dsv2FixtureTree(spark, sfDir)
      spark.read.format("graft-inventory").option("root", root)
        .option("minPartitions", "64").load()
        .filter(!col("is_folder"))
        .groupBy(col("parent_directory"))
        .agg(count(lit(1)).as("n_files"), sum("length").as("bytes"))
        .withColumnRenamed("parent_directory", "dir")
        .orderBy("dir")
    },

    // The filelist-driven scan: inventory JOIN (dimension of directories
    // derived from the fact table) — the unit-manifest shape of the
    // reference's per-filelist distcp loop. At execution the scan's
    // SupportsRuntimeFiltering surface receives the dim's observed keys
    // as a dynamic IN filter and prunes the TREE WALK to the joined
    // directories (SourcesSpec pins the pruning; this row pins the
    // answer — DPP must never change it).
    GraftQuery("inv_dpp_join",
      """WITH f AS (SELECT l_partkey AS pk, l_linenumber
        |           FROM lineitem WHERE l_partkey % 200 = 0),
        |d AS (SELECT DISTINCT l_partkey AS pk FROM lineitem WHERE l_partkey % 400 = 0)
        |SELECT concat('/data/part=', pk) AS dir,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(l_linenumber) AS BIGINT) AS bytes
        |FROM f JOIN d USING (pk) GROUP BY pk ORDER BY dir""".stripMargin) {
      (spark, sfDir) =>
      val root = dsv2FixtureTree(spark, sfDir)
      val dims = graft.Tables.lineitem(spark, sfDir)
        .filter(col("l_partkey") % 400 === 0)
        .select(concat(lit("/data/part="), col("l_partkey")).as("parent_directory"))
        .distinct()
      spark.read.format("graft-inventory").option("root", root).load()
        .filter(!col("is_folder"))
        .join(dims, "parent_directory")
        .groupBy(col("parent_directory"))
        .agg(count(lit(1)).as("n_files"), sum("length").as("bytes"))
        .withColumnRenamed("parent_directory", "dir")
        .orderBy("dir")
    },

    // `name` prefix pushdown — the literal anchor of every regex
    // exclusion (op 19: distcp -filters patterns like `.*part=1[0-9]/.*`
    // anchor at a path literal, README.md:94-99) and of "find this
    // manifest slice" probes. The StartsWith on the full path is applied
    // EXACTLY per entry inside the walk (claimed, no residual Filter) and
    // prunes descent: subtrees that cannot extend the prefix are never
    // listed — at 100 TB an anchored exclusion scan lists only the
    // anchored branch instead of the namespace. The prefix is derived
    // from data (smallest fixture part, order keys starting with '1') so
    // the same slice oracles from lineitem at every sf.
    GraftQuery("inv_name_prefix_scan",
      """WITH f AS (SELECT l_partkey AS pk, l_orderkey AS ok, l_linenumber AS ln
        |           FROM lineitem WHERE l_partkey % 200 = 0),
        |m AS (SELECT min(pk) AS pk0 FROM f)
        |SELECT concat('/data/part=', pk, '/f-', ok, '-', ln, '.dat') AS name,
        |       CAST(ln AS BIGINT) AS length
        |FROM f JOIN m ON f.pk = m.pk0
        |WHERE CAST(ok AS VARCHAR) LIKE '1%'
        |ORDER BY name""".stripMargin) { (spark, sfDir) =>
      val root = dsv2FixtureTree(spark, sfDir)
      val pk0 = graft.Tables.lineitem(spark, sfDir)
        .filter(col("l_partkey") % 200 === 0)
        .agg(min("l_partkey")).first().getLong(0)
      spark.read.format("graft-inventory").option("root", root).load()
        .filter(col("name").startsWith(s"/data/part=$pk0/f-1"))
        .select(col("name"), col("length"))
        .orderBy("name")
    },

    // The CONTINUOUS sync loop end-to-end: the inventory tree consumed as
    // a Structured Streaming SOURCE (InventoryMicroBatchStream — mtime
    // watermark as the stream offset, persisted in the checkpoint), two
    // checkpointed Trigger.AvailableNow runs over a two-wave tree. Every
    // file must arrive in EXACTLY the run matching its wave and exactly
    // once — the oracle replays (dir, wave) rollups from lineitem, so a
    // duplicate delivery, a missed delta, or a watermark leak all
    // hash-mismatch. This is the reference's re-run migration
    // (README.md:150-152) as a streaming dataflow instead of a per-file
    // existence probe. Fixture tree + checkpoint are rebuilt per
    // invocation (temp dirs), so re-runs are deterministic.
    GraftQuery("stream_inventory_sync",
      """WITH f AS (SELECT l_partkey AS pk, l_orderkey AS ok, l_linenumber
        |           FROM lineitem WHERE l_partkey % 200 = 0)
        |SELECT concat('/data/part=', pk) AS dir,
        |       CAST(CASE WHEN ok % 1000 < 500 THEN 1 ELSE 2 END AS BIGINT) AS wave,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(l_linenumber) AS BIGINT) AS bytes
        |FROM f GROUP BY 1, 2 ORDER BY dir, wave""".stripMargin) { (spark, sfDir) =>
      import java.nio.file.{Files, Paths}
      import java.nio.file.attribute.FileTime
      val rows = graft.Tables.lineitem(spark, sfDir)
        .filter(col("l_partkey") % 200 === 0)
        .select("l_partkey", "l_orderkey", "l_linenumber")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val root = Files.createTempDirectory("graft_inv_stream").toString
      // project away the ownership columns: pruning reaches the walk,
      // which otherwise pays a per-entry permission probe on local FS
      twoWaveSync(spark.readStream.format("graft-inventory").option("root", root), root,
          Seq("parent_directory", "is_folder", "length"), identity) { w =>
        rows.filter { case (_, ok, _) => (if (ok % 1000 < 500) 1 else 2) == w }
          .foreach { case (pk, ok, ln) =>
            val dir = Paths.get(s"$root/data/part=$pk")
            Files.createDirectories(dir)
            val f = dir.resolve(s"f-$ok-$ln.dat")
            Files.write(f, Array.fill(ln)(0.toByte))
            Files.setLastModifiedTime(f, FileTime.fromMillis((ok % 1000) * 1000L))
          }
      }
        .groupBy(col("parent_directory").as("dir"), col("wave"))
        .agg(count(lit(1)).as("n_files"), sum("length").as("bytes"))
        .orderBy("dir", "wave")
    },

    // The FULL re-run migration loop per batch: streaming delta sync
    // COMPOSED with the op-19 regex exclusions (distcp -filters,
    // README.md:94-99) and the op-23 identity remap (broadcast lookup
    // with pass-through fallback) — applied INSIDE foreachBatch, exactly
    // where MIGRATION.md's loop applies them before the copy sink. The
    // fixture tree carries the supplier key in each file name (the
    // invFiles naming), so per-file owners derive deterministically and
    // the whole composition — wave assignment from the checkpointed
    // watermark, exclusion drop, remap-or-passthrough — replays from
    // lineitem ⋈ idmap. A filter applied to the wrong batch, a remap
    // missed on one wave, or an excluded file leaking all hash-mismatch.
    GraftQuery("stream_sync_remapped",
      s"""WITH f AS (SELECT DISTINCT l_partkey AS pk, l_orderkey AS ok,
         |             l_linenumber AS ln, l_suppkey AS sk
         |           FROM lineitem WHERE l_partkey % 200 = 0),
         |$IdMapCte,
         |kept AS (SELECT pk, ok, ln, sk,
         |    concat('/data/part=', pk, '/f-', ok, '-', ln, '-', sk, '.dat') AS name
         |  FROM f
         |  WHERE NOT regexp_matches(
         |          concat('/data/part=', pk, '/f-', ok, '-', ln, '-', sk, '.dat'),
         |          '.*part=1[0-9]00/.*')
         |    AND NOT regexp_matches(
         |          concat('/data/part=', pk, '/f-', ok, '-', ln, '-', sk, '.dat'),
         |          '.*-3\\.dat$$')),
         |r AS (SELECT concat('/data/part=', pk) AS dir,
         |             CASE WHEN ok % 1000 < 500 THEN 1 ELSE 2 END AS wave,
         |             coalesce(m.target, concat('user', sk)) AS owner_mapped,
         |             ln
         |      FROM kept LEFT JOIN idmap m
         |        ON m.itype = 'user' AND m.source = concat('user', sk))
         |SELECT dir, CAST(wave AS BIGINT) AS wave, owner_mapped,
         |       CAST(count(*) AS BIGINT) AS n_files, CAST(sum(ln) AS BIGINT) AS bytes
         |FROM r GROUP BY 1, 2, 3 ORDER BY dir, wave, owner_mapped""".stripMargin) {
      (spark, sfDir) =>
      import java.nio.file.{Files, Paths}
      import java.nio.file.attribute.FileTime
      val rows = graft.Tables.lineitem(spark, sfDir)
        .filter(col("l_partkey") % 200 === 0)
        .select("l_partkey", "l_orderkey", "l_linenumber", "l_suppkey")
        .distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      val root = Files.createTempDirectory("graft_inv_remap").toString
      // op-19 exclusions + op-23 remap, applied PER BATCH (the migration
      // loop's shape — each delta batch is filtered and remapped before
      // it ships); the identity map broadcasts, the exclusion is a
      // map-side predicate, so the composition adds no shuffle
      val exclusions = Seq(".*part=1[0-9]00/.*", ".*-3\\.dat$")
      val keep = exclusions.map(p => !col("name").rlike(p)).reduce(_ && _)
      val users = identityMap(spark, sfDir).filter(col("itype") === "user")
        .select(col("source"), col("target"))
      def remapped(batch: DataFrame): DataFrame = batch.filter(keep)
        .withColumn("owner",
          concat(lit("user"), regexp_extract(col("name"), "-([0-9]+)\\.dat$", 1)))
        .join(broadcast(users), col("owner") === col("source"), "left")
        .select(col("parent_directory"), col("length"),
          coalesce(col("target"), col("owner")).as("owner_mapped"))
      twoWaveSync(spark.readStream.format("graft-inventory").option("root", root), root,
          Seq("name", "parent_directory", "is_folder", "length"), remapped) { w =>
        rows.filter { case (_, ok, _, _) => (if (ok % 1000 < 500) 1 else 2) == w }
          .foreach { case (pk, ok, ln, sk) =>
            val dir = Paths.get(s"$root/data/part=$pk")
            Files.createDirectories(dir)
            val f = dir.resolve(s"f-$ok-$ln-$sk.dat")
            Files.write(f, Array.fill(ln)(0.toByte))
            Files.setLastModifiedTime(f, FileTime.fromMillis((ok % 1000) * 1000L))
          }
      }
        .groupBy(col("parent_directory").as("dir"), col("wave"), col("owner_mapped"))
        .agg(count(lit(1)).as("n_files"), sum("length").as("bytes"))
        .orderBy("dir", "wave", "owner_mapped")
    },

    // The ADMISSION-CONTROL slicing itself as a correctness row: one
    // AvailableNow drain of a backlog tree with maxFilesPerTrigger=16,
    // per-BATCH rollups — and the oracle replays the exact watermark
    // recurrence sequentially (a recursive CTE: each batch's end
    // watermark is the 16th-smallest mtime past the previous one, mtime
    // TIES all admitted — the same never-split-a-timestamp rule the
    // source implements with its bounded heap). A wrong boundary, a
    // dropped tie, or batch reordering all hash-mismatch. Folder entries
    // carry "now" mtimes (> every file's), so they drain in trailing
    // batches that the files-only filter empties — file batch numbering
    // is deterministic. The drain runs the source's only offset path,
    // the distributed bounded fold (per-subtree top-n heads merged by a
    // tree reduce), the billion-file-backlog configuration.
    GraftQuery("stream_inventory_backlog",
      """WITH RECURSIVE fl AS (
        |  SELECT (l_orderkey % 1000) * 1000 AS m, CAST(l_linenumber AS BIGINT) AS ln
        |  FROM lineitem WHERE l_partkey % 200 = 0),
        |wm(k, w) AS (
        |  SELECT CAST(-1 AS BIGINT) AS k, CAST(-1 AS BIGINT) AS w
        |  UNION ALL
        |  SELECT k + 1,
        |    (SELECT max(m) FROM (SELECT m FROM fl WHERE m > w ORDER BY m LIMIT 16) q)
        |  FROM wm WHERE (SELECT count(*) FROM fl WHERE m > w) > 0),
        |bounds AS (SELECT k, lag(w) OVER (ORDER BY k) AS lo, w AS hi FROM wm),
        |asg AS (SELECT b.k AS batch, fl.ln FROM fl
        |        JOIN bounds b ON fl.m > b.lo AND fl.m <= b.hi)
        |SELECT batch, CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(ln) AS BIGINT) AS bytes
        |FROM asg GROUP BY batch ORDER BY batch""".stripMargin) { (spark, sfDir) =>
      import java.nio.file.{Files, Paths}
      import java.nio.file.attribute.FileTime
      val rows = graft.Tables.lineitem(spark, sfDir)
        .filter(col("l_partkey") % 200 === 0)
        .select("l_partkey", "l_orderkey", "l_linenumber")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val root = Files.createTempDirectory("graft_inv_backlog").toString
      rows.foreach { case (pk, ok, ln) =>
        val dir = Paths.get(s"$root/data/part=$pk")
        Files.createDirectories(dir)
        val f = dir.resolve(s"f-$ok-$ln.dat")
        Files.write(f, Array.fill(ln)(0.toByte))
        Files.setLastModifiedTime(f, FileTime.fromMillis((ok % 1000) * 1000L))
      }
      val ckpt = Files.createTempDirectory("graft_inv_backlog_ckpt").toString
      val out = Files.createTempDirectory("graft_inv_backlog_out").toString + "/rows"
      val q = spark.readStream.format("graft-inventory").option("root", root)
        .option("maxFilesPerTrigger", "16").load()
        .select("parent_directory", "is_folder", "length")
        .filter(!col("is_folder"))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          batch.withColumn("batch", lit(id))
            .write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out)
        .groupBy("batch")
        .agg(count(lit(1)).as("n_files"), sum("length").as("bytes"))
        .orderBy("batch")
    },

    // ---- the ownership-aware source (r11): owner/grp/perms are REAL
    // FileStatus columns of the V2 inventory schema (HDFS/ABFS return
    // them from the server; the reference's inventory record is exactly
    // this projection, adls_copy_utils.py:76-86), so the op-12/13/23
    // identity family runs against the real source instead of synthetic
    // frames. The fixture tree lives on graftfs:// — the raw local FS
    // cannot represent arbitrary principals — and is materialized through
    // the V2 WRITE path (create + setOwner + setPermission, the
    // reference's copy + setAccessControl phases), so write-side
    // ownership and read-side surfacing pin each other.

    // "files owned by X" — the identity-sweep probe. owner IN (...) is an
    // exactly-pushed filter: the walk drops non-matching entries off the
    // FileStatus before a row is built (claimed, no post-scan Filter), so
    // at 100 TB the sweep ships only the matching records.
    GraftQuery("inv_owner_scan",
      s"""WITH $OwnTreeCte
         |SELECT name, owner, grp, perms, length FROM owntree
         |WHERE owner IN ('user1', 'user2', 'user3')
         |ORDER BY name""".stripMargin) { (spark, sfDir) =>
      readOwned(spark, sfDir)
        .filter(!col("is_folder") && col("owner").isin("user1", "user2", "user3"))
        .select("name", "owner", "grp", "perms", "length")
        .orderBy("name")
    },

    // capacity accounting per GROUP — aggregate pushdown composed with
    // the files-only filter, grouped by an ownership column: the walk
    // folds count/sum per grp during the listing, one partial row per
    // (partition, grp) back to Spark. The "bytes per principal" audit
    // every migration runs before cutover.
    GraftQuery("inv_owner_rollup",
      s"""WITH $OwnTreeCte
         |SELECT grp, CAST(count(*) AS BIGINT) AS n_files,
         |       CAST(sum(length) AS BIGINT) AS bytes
         |FROM owntree GROUP BY grp ORDER BY grp""".stripMargin,
      bench = true) { (spark, sfDir) =>
      readOwned(spark, sfDir)
        .filter(!col("is_folder"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n_files"), sum("length").as("bytes"))
        .orderBy("grp")
    },

    // op 13/23 riding the REAL source: the identity remap
    // (identity-mapper.py:9-35) over owner/grp read from FileStatus —
    // broadcast dimension join, unmapped principals pass through. Same
    // shape as inv_remap_owners, but the fact side is the V2 scan.
    GraftQuery("inv_remap_owners_src",
      s"""WITH $OwnTreeCte, $IdMapCte
         |SELECT t.name,
         |       coalesce(mu.target, t.owner) AS new_owner,
         |       coalesce(mg.target, t.grp) AS new_grp,
         |       (mu.target IS NOT NULL OR mg.target IS NOT NULL) AS changed
         |FROM owntree t
         |LEFT JOIN idmap mu ON mu.itype = 'user' AND mu.source = t.owner
         |LEFT JOIN idmap mg ON mg.itype = 'group' AND mg.source = t.grp
         |ORDER BY name""".stripMargin) { (spark, sfDir) =>
      val idm = identityMap(spark, sfDir)
      val mu = idm.filter(col("itype") === "user")
        .select(col("source").as("u_source"), col("target").as("u_target"))
      val mg = idm.filter(col("itype") === "group")
        .select(col("source").as("g_source"), col("target").as("g_target"))
      readOwned(spark, sfDir)
        .filter(!col("is_folder"))
        .select("name", "owner", "grp")
        .join(broadcast(mu), col("owner") === col("u_source"), "left")
        .join(broadcast(mg), col("grp") === col("g_source"), "left")
        .select(col("name"),
          coalesce(col("u_target"), col("owner")).as("new_owner"),
          coalesce(col("g_target"), col("grp")).as("new_grp"),
          (col("u_target").isNotNull || col("g_target").isNotNull).as("changed"))
        .orderBy("name")
    },

    // The re-run migration loop riding the REAL ownership source: the
    // streaming delta sync (mtime watermark in the checkpoint, two
    // AvailableNow drains over a two-wave tree) where the op-23 identity
    // remap consumes the owner COLUMN the V2 scan reads off the
    // FileStatus — not a name-derived stand-in (stream_sync_remapped's
    // shape). The fixture is materialized through the V2 write path's
    // setOwner phase on graftfs, mtimes pinned via setTimes, so wave
    // assignment, per-file owners, and the remap-or-passthrough all
    // replay from lineitem ⋈ idmap. An owner misread off the status, a
    // remap against the wrong batch, or a watermark leak all
    // hash-mismatch.
    GraftQuery("stream_owned_sync",
      s"""WITH f AS (SELECT DISTINCT l_partkey AS pk, l_orderkey AS ok,
         |             l_linenumber AS ln, l_suppkey AS sk
         |           FROM lineitem WHERE l_partkey % 200 = 0),
         |$IdMapCte,
         |r AS (SELECT concat('/data/part=', pk) AS dir,
         |             CASE WHEN ok % 1000 < 500 THEN 1 ELSE 2 END AS wave,
         |             coalesce(m.target, concat('user', sk)) AS owner_mapped, ln
         |      FROM f LEFT JOIN idmap m
         |        ON m.itype = 'user' AND m.source = concat('user', sk))
         |SELECT dir, CAST(wave AS BIGINT) AS wave, owner_mapped,
         |       CAST(count(*) AS BIGINT) AS n_files, CAST(sum(ln) AS BIGINT) AS bytes
         |FROM r GROUP BY 1, 2, 3 ORDER BY dir, wave, owner_mapped""".stripMargin) {
      (spark, sfDir) =>
      import org.apache.hadoop.fs.Path
      import spark.implicits._
      // fresh graftfs account per invocation (re-runs need fresh trees;
      // the FileSystem cache keys on the authority)
      val backing = java.nio.file.Files.createTempDirectory("graft_own_stream").toString
      val acct = "ownstr" + java.lang.Long.toUnsignedString(backing.hashCode.toLong & 0xffffffffL)
      val hc = Map(
        "fs.graftfs.impl" -> "graft.exec.GraftFsFileSystem",
        s"fs.graftfs.root.$acct" -> backing,
        "fs.graftfs.token.provider" -> "graft.exec.CountingTokenProvider")
      val rootUri = s"graftfs://$acct/"
      val fs = new Path(rootUri).getFileSystem(graft.exec.HadoopConf(hc))
      val keys = graft.Tables.lineitem(spark, sfDir)
        .filter(col("l_partkey") % 200 === 0)
        .select("l_partkey", "l_orderkey", "l_linenumber", "l_suppkey").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      def writeWave(w: Int): Unit = {
        val rows = keys.filter { case (_, ok, _, _) => (if (ok % 1000 < 500) 1 else 2) == w }
        val df = rows.toSeq.toDF("pk", "ok", "ln", "sk").select(
          concat(lit("/data/part="), col("pk"), lit("/f-"), col("ok"), lit("-"),
            col("ln"), lit("-"), col("sk"), lit(".dat")).as("name"),
          lit(false).as("is_folder"),
          col("ln").cast("long").as("length"),
          concat(lit("user"), col("sk")).as("owner"),
          concat(lit("grp"), col("pk") % 7).as("grp"),
          lit("rw-r--r--").as("perms"))
        hc.foldLeft(df.write.format("graft-inventory").option("root", rootUri)
          .mode("append")) { case (wr, (k, v)) => wr.option("hadoop." + k, v) }.save()
        rows.foreach { case (pk, ok, ln, sk) =>
          fs.setTimes(new Path(s"${rootUri}data/part=$pk/f-$ok-$ln-$sk.dat"),
            (ok % 1000) * 1000L, -1L)
        }
      }
      val users = identityMap(spark, sfDir).filter(col("itype") === "user")
        .select(col("source"), col("target"))
      val reader = hc.foldLeft(
        spark.readStream.format("graft-inventory").option("root", rootUri)) {
        case (r, (k, v)) => r.option("hadoop." + k, v)
      }
      // V2 writes and ownership-record updates bump directory mtimes too
      twoWaveSync(reader, backing,
          Seq("parent_directory", "is_folder", "length", "owner"),
          _.join(broadcast(users), col("owner") === col("source"), "left")
            .select(col("parent_directory"), col("length"),
              coalesce(col("target"), col("owner")).as("owner_mapped")))(writeWave)
        .groupBy(col("parent_directory").as("dir"), col("wave"), col("owner_mapped"))
        .agg(count(lit(1)).as("n_files"), sum("length").as("bytes"))
        .orderBy("dir", "wave", "owner_mapped")
    },

    // The SQL front door over the V2 source: a temp view over the
    // ownership scan, the principal-capacity probe written in plain SQL.
    // The pushdown machinery — owner IN and the files-only equality
    // dropped into the walk, the rollup folded into the listing — is the
    // same Catalyst path the DataFrame form takes; a SQL user gets the
    // 100 TB plan for free.
    GraftQuery("sql_inventory_view",
      s"""WITH $OwnTreeCte
         |SELECT grp, CAST(count(*) AS BIGINT) AS n_files,
         |       CAST(sum(length) AS BIGINT) AS bytes
         |FROM owntree WHERE owner IN ('user1', 'user2', 'user3', 'user4')
         |GROUP BY grp ORDER BY grp""".stripMargin) { (spark, sfDir) =>
      readOwned(spark, sfDir).createOrReplaceTempView("inventory_v")
      spark.sql(
        """SELECT grp, count(*) AS n_files, sum(length) AS bytes
          |FROM inventory_v
          |WHERE NOT is_folder AND owner IN ('user1', 'user2', 'user3', 'user4')
          |GROUP BY grp ORDER BY grp""".stripMargin)
    }
  )

  /** The two-wave continuous sync the stream_*_sync rows replay, per wave
    * w in 1, 2: `writeWave(w)` lands the wave's files under the local
    * directory `tree`; every folder mtime there is pinned to 0 (creating a
    * file bumps its parent's mtime to "now", which would drag the watermark
    * past every later wave's file mtimes); then one Trigger.AvailableNow
    * run of `reader`, projected to `cols` and files only, appends each
    * micro-batch through `perBatch` as parquet. The runs share one
    * checkpoint, so the second ships only the second wave's delta.
    * Returns both runs' rows tagged with their `wave`. */
  private def twoWaveSync(reader: DataStreamReader, tree: String, cols: Seq[String],
      perBatch: DataFrame => DataFrame)(writeWave: Int => Unit): DataFrame = {
    import java.nio.file.{Files, Paths}
    val ckpt = Files.createTempDirectory("graft_inv_sync_ckpt").toString
    val outBase = Files.createTempDirectory("graft_inv_sync_out").toString
    (1 to 2).map { w =>
      writeWave(w)
      val it = Files.walk(Paths.get(tree)).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (Files.isDirectory(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(0L))
      }
      val out = s"$outBase/run$w"
      val stream = reader.load().select(cols.map(col): _*).filter(!col("is_folder"))
      stream.writeStream.outputMode("append")
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          perBatch(batch).write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      val rows =
        if (Files.exists(Paths.get(out))) stream.sparkSession.read.parquet(out)
        else stream.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](),
          perBatch(stream).schema)
      rows.withColumn("wave", lit(w.toLong))
    }.reduce(_ unionByName _)
  }

  /** memoized per (session, sfDir): a graftfs:// tree whose files carry
    * deterministic ownership, materialized through the V2 write path.
    * Returns (root URI, hadoop options to replay on every read). */
  private val ownerTreeCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, Map[String, String])]

  private def ownershipTree(spark: SparkSession, sfDir: String): (String, Map[String, String]) =
    ownerTreeCache.getOrElseUpdate((spark, sfDir), {
      val backing = java.nio.file.Files.createTempDirectory("graft_own_inv").toString
      // account unique per backing dir: Hadoop's FileSystem cache keys on
      // (scheme, authority) and would otherwise pin a stale root binding
      val acct = "own" + java.lang.Long.toUnsignedString(backing.hashCode.toLong & 0xffffffffL)
      val hc = Map(
        "fs.graftfs.impl" -> "graft.exec.GraftFsFileSystem",
        s"fs.graftfs.root.$acct" -> backing,
        "fs.graftfs.token.provider" -> "graft.exec.CountingTokenProvider")
      val rootUri = s"graftfs://$acct/"
      val rows = graft.Tables.lineitem(spark, sfDir)
        .filter(col("l_partkey") % 200 === 0)
        .select("l_partkey", "l_orderkey", "l_linenumber", "l_suppkey")
        .distinct()
        .select(
          concat(lit("/data/part="), col("l_partkey"), lit("/f-"), col("l_orderkey"),
            lit("-"), col("l_linenumber"), lit("-"), col("l_suppkey"), lit(".dat")).as("name"),
          lit(false).as("is_folder"),
          col("l_linenumber").cast("long").as("length"),
          concat(lit("user"), col("l_suppkey")).as("owner"),
          concat(lit("grp"), col("l_partkey") % 7).as("grp"),
          when(col("l_suppkey") % 3 === 0, lit("rwxr-x---"))
            .otherwise(lit("rw-r--r--")).as("perms"))
      val w = hc.foldLeft(
        rows.write.format("graft-inventory").option("root", rootUri).mode("append")) {
        case (wr, (k, v)) => wr.option("hadoop." + k, v)
      }
      w.save()
      (rootUri, hc)
    })

  /** the ownership tree read back through the V2 source */
  private def readOwned(spark: SparkSession, sfDir: String): DataFrame = {
    val (rootUri, hc) = ownershipTree(spark, sfDir)
    hc.foldLeft(spark.read.format("graft-inventory").option("root", rootUri)) {
      case (r, (k, v)) => r.option("hadoop." + k, v)
    }.load()
  }

  /** memoized per (session, sfDir): the on-disk fixture tree inv_scan_dsv2
    * reads — deterministic file set derived from lineitem, content length
    * = l_linenumber bytes */
  private val dsv2TreeCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  private def dsv2FixtureTree(spark: SparkSession, sfDir: String): String =
    dsv2TreeCache.getOrElseUpdate((spark, sfDir), {
      import java.nio.file.{Files, Paths}
      val rows = graft.Tables.lineitem(spark, sfDir)
        .filter(col("l_partkey") % 200 === 0)
        .select("l_partkey", "l_orderkey", "l_linenumber")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val root = Files.createTempDirectory("graft_dsv2_inv").toString
      rows.foreach { case (pk, ok, ln) =>
        val dir = Paths.get(s"$root/data/part=$pk")
        Files.createDirectories(dir)
        val f = dir.resolve(s"f-$ok-$ln.dat")
        Files.write(f, Array.fill(ln)(0.toByte))
        // deterministic modification time — (orderkey mod 1000) seconds —
        // so "modified since X" scans are oracle-able from lineitem
        Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis((ok % 1000) * 1000L))
      }
      root
    })
}
