#!/usr/bin/env python3
"""Self-test of the benchmark definition and its seeded inputs.

    python3 perfbench/selftest.py

Checks that the same seed generates an identical tree (every byte and
ownership record), manifest and identity map, that another seed generates
a different one, that the trees keep the sizes every seed must share, and
that BENCHMARK.json declares exactly the workloads run.py runs. That the
metric names a run prints equal those BENCHMARK.json declares is checked
by every run: run.py exits with code 3 instead of printing another set.
"""
import hashlib
import json
import os
import re
import shutil
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

failures = []


def expect(ok, what):
    print(("ok    " if ok else "FAIL  ") + what)
    if not ok:
        failures.append(what)


def fingerprint(root):
    """sha1 of every file under root, keyed by relative path"""
    out = {}
    for here, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(here, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha1(fh.read()).hexdigest()
    return out


def check_generator(tmp):
    for kind in gen.KINDS:
        a, b, c = (os.path.join(tmp, kind + x) for x in "abc")
        gen.generate(kind, 7, a)
        gen.generate(kind, 7, b)
        gen.generate(kind, 8, c)
        expect(fingerprint(a) == fingerprint(b),
               "%s: seed 7 twice gives identical trees, manifests and identity maps" % kind)
        if kind == "migrate":
            fa, fc = fingerprint(a), fingerprint(c)
            expect(fa["manifest.tsv"] != fc["manifest.tsv"], "migrate: seeds 7 and 8 give different manifests")
            expect(fa["idmap.tsv"] != fc["idmap.tsv"], "migrate: seeds 7 and 8 give different identity maps")
            rows = gen.read_manifest(a)
            files = [r for r in rows if not r[1]]
            large = [r[2] for r in files if r[0].startswith("/warehouse")]
            expect(len(files) == gen.SMALL_FILES + gen.LARGE_FILES, "migrate: fixed file count")
            expect(sum(large) == gen.LARGE_TOTAL_BYTES, "migrate: fixed large-file bytes")
            bs = gen.BLOCK_SIZE
            expect({0, 2 * bs, bs + 1, 3 * bs - 1} <= set(large),
                   "migrate: empty, block-multiple and ragged-tail large files present")
            small = [r[2] for r in files if not r[0].startswith("/warehouse")]
            expect(max(small) <= gen.SMALL_MAX_BYTES, "migrate: small files within 16 KiB")
        shutil.rmtree(a), shutil.rmtree(b), shutil.rmtree(c)


def check_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expect(set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"},
           "BENCHMARK.json has exactly the contract's keys")
    expect([w["name"] for w in spec["workloads"]] == list(run.WORKLOADS),
           "BENCHMARK.json declares exactly the workloads run.py runs")
    expect(all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"]),
           "every workload says why in one line")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    expect(len(names) == len(set(names)) and all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n)
                                                 for n in names), "metric names are valid and unique")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    expect(bounds.get("setup_s") == max(bounds.values()) and max(bounds.values()) <= 0.25,
           "setup_s has the largest bound, and no bound exceeds 0.25")


def main():
    tmp = os.path.join(run.BUILD, "selftest-%d" % os.getpid())
    os.makedirs(tmp)
    try:
        check_generator(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    check_spec()
    print("%d failed" % len(failures))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
