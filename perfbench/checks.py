"""Correctness checks run after the timed part of a benchmark run.

``oracle`` compares each query result a pass wrote against its DuckDB
oracle answer over the same parquet tables (computed once per build by
``oracle_answers``): columns sorted by name, rows sorted, every cell equal. ``landed_tree`` compares a migrated
destination with its seeded source: bytes, ownership records and the
remapped metadata. Each returns (attempted, failed, problems).
"""
import json
import os

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CHUNK = 1 << 20


def _cell(v):
    """a typed, comparable form of one result cell"""
    import datetime
    import decimal
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (float, decimal.Decimal)):
        return ("f", float(v))
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return ("t", v.isoformat())
    return ("s", str(v))


def _rows(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = [tuple(_cell(data[j][i]) for j in range(len(cols))) for i in range(table.num_rows)]
    return cols, sorted(rows, key=repr)


def oracle_answers(sql_file, data_dir, out_dir):
    """run every oracle SQL in DuckDB over the parquet tables and keep each
    answer as out_dir/<query>.parquet"""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in TABLES:
        con.execute("create view %s as select * from read_parquet('%s')"
                    % (t, os.path.join(data_dir, t + ".parquet")))
    with open(sql_file) as f:
        for name, sql in json.load(f).items():
            pq.write_table(con.sql(sql).arrow(), os.path.join(out_dir, name + ".parquet"))


def oracle(results_dir, answers_dir):
    """each query's result directory against its oracle answer"""
    import pyarrow.parquet as pq
    names = sorted(n for n in os.listdir(results_dir) if not n.startswith("_"))
    failed, problems = 0, []
    for name in names:
        try:
            answer = os.path.join(answers_dir, name + ".parquet")
            if not os.path.exists(answer):
                raise ValueError("no oracle answer")
            got_cols, got = _rows(pq.read_table(os.path.join(results_dir, name)))
            want_cols, want = _rows(pq.read_table(answer))
            if got_cols != want_cols:
                raise ValueError("columns %s, oracle has %s" % (got_cols, want_cols))
            if got != want:
                bad = sum(1 for a, b in zip(got, want) if a != b) + abs(len(got) - len(want))
                raise ValueError("%d of %d rows differ from the oracle" % (bad, len(want)))
        except Exception as e:  # any failure to match counts against the run
            failed += 1
            problems.append("%s: %s" % (name, e))
    return len(names), failed, problems


def _same_bytes(a, b):
    with open(a, "rb") as fa, open(b, "rb") as fb:
        while True:
            x, y = fa.read(CHUNK), fb.read(CHUNK)
            if x != y:
                return False
            if not x:
                return True


def _read_meta(path):
    with open(path, encoding="utf-8") as f:
        return dict(line.split("=", 1) for line in f.read().split("\n") if line)


def landed_tree(tree):
    """every manifest entry landed under tree/dst: identical bytes, an
    ownership record equal to the source's, and user metadata carrying the
    remapped owner and group exactly when the identity map remaps one"""
    src, dst = os.path.join(tree, "src"), os.path.join(tree, "dst")
    idmap = gen.read_idmap(tree)
    attempted, failed, problems = 0, 0, []

    def check(ok, what):
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            if len(problems) < 20:
                problems.append(what)

    expected = set()
    for path, is_dir, _, owner, group, perms in gen.read_manifest(tree):
        landed = dst + path
        expected.update([path, path + ".acl"])
        if is_dir:
            check(os.path.isdir(landed), "missing directory " + path)
        else:
            check(os.path.isfile(landed) and _same_bytes(src + path, landed),
                  "bytes differ or missing: " + path)
        acl = landed + ".acl"
        check(os.path.isfile(acl) and open(acl).read() == "%s:%s:%s" % (owner, group, perms),
              "ownership record differs: " + path)
        new_owner = idmap.get(("user", owner))
        new_group = idmap.get(("group", group))
        meta = landed + ".meta"
        if new_owner or new_group:
            expected.add(path + ".meta")
            want = {"hdi_permission": json.dumps(
                {"owner": new_owner or owner, "group": new_group or group, "permissions": perms},
                separators=(",", ":"))}
            if is_dir:
                want["hdi_isfolder"] = "true"
            check(os.path.isfile(meta) and _read_meta(meta) == want, "remapped metadata differs: " + path)
        else:
            check(not os.path.exists(meta), "unmapped entry got metadata: " + path)
    found = set()
    for here, dirs, files in os.walk(dst):
        rel = here[len(dst):]
        found.update(rel + "/" + d for d in dirs)
        found.update(rel + "/" + f for f in files if f != gen.OWNER_RECORD)
    extra = sorted(found - expected)
    check(not extra, "unexpected entries at the destination: %s" % extra[:5])
    return attempted, failed, problems
