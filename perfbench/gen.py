"""Seeded source trees for the migrate workloads.

A tree is a local directory laid out the way the engine's ``graftfs://``
scheme stores an account: plain files and directories, plus one hidden
``_graftfs_owners`` record per directory holding each child's owner, group
and permission triad. Reading the tree through ``graftfs://`` therefore
lists every entry with the ownership the generator chose, the way an HDFS
or ADLS listing does.

Alongside the tree the generator writes ``manifest.tsv`` (every entry with
its size and ownership) and ``idmap.tsv`` (the identity remap
the migration applies afterwards). Everything derives from the seed: the
same seed gives byte-identical trees, manifests and maps.
"""
import os
import random
import struct

import numpy as np

OWNER_RECORD = "_graftfs_owners"
BLOCK_SIZE = 20 * 1024 * 1024  # the copy engine's ranged-read block size
MIB = 1024 * 1024
REPEAT = 4 * MIB  # large files repeat one random block of this size

# the migrate tree: a small-file part under /proj* and a large-file part
# under /warehouse*. Counts and total bytes are fixed, so every seed does
# the same amount of work and only the arrangement varies.
SMALL_FILES = 300
SMALL_DIRS = 30
SMALL_MAX_BYTES = 16 * 1024
LARGE_FILES = 10
LARGE_DIRS = 2
LARGE_TOTAL_BYTES = 320 * MIB
LARGE_MAX_BYTES = 128 * MIB

KINDS = ["migrate", "warmup"]
USERS = ["u%03d" % i for i in range(40)]
GROUPS = ["g%02d" % i for i in range(12)]
FILE_PERMS = ["rw-r--r--", "rw-r-----", "rw-rw-r--", "rw-------", "r--r--r--"]
DIR_PERMS = ["rwxr-xr-x", "rwxr-x---", "rwxrwxr-x", "rwx------"]


def _skewed(rng, items, alpha=1.3):
    """one item, drawn with Zipf-like weights over a seeded ranking"""
    ranked = list(items)
    rng.shuffle(ranked)
    weights = [1.0 / (i + 1) ** alpha for i in range(len(ranked))]
    return lambda: rng.choices(ranked, weights)[0]


def _dir_tree(rng, n_dirs, prefix):
    """n_dirs rooted paths: a few top-level directories, each a random
    hierarchy up to three levels below it"""
    tops = ["%s%d" % (prefix, i) for i in range(min(6, n_dirs))]
    dirs = ["/" + t for t in tops]
    while len(dirs) < n_dirs:
        parent = rng.choice(dirs)
        if parent.count("/") >= 4:
            continue
        dirs.append("%s/d%04d" % (parent, len(dirs)))
    return dirs


def _files_per_dir(rng, n_files, n_dirs, alpha=1.1):
    """skewed counts over a seeded ranking of the directories: most hold a
    handful of files, the top few hold a large share of the tree (the hot
    directories). The shape is the same for every seed, only which
    directories are hot changes."""
    weights = [1.0 / (i + 1) ** alpha for i in range(n_dirs)]
    total = sum(weights)
    counts = [int(n_files * w / total) for w in weights]
    for i in range(n_files - sum(counts)):
        counts[i % n_dirs] += 1
    rng.shuffle(counts)
    return counts


def _large_sizes(rng):
    """LARGE_FILES sizes summing to exactly LARGE_TOTAL_BYTES: an empty
    file, exact multiples of the block size, ragged tails one byte either
    side of a block boundary, and seeded sizes around the mean for the rest"""
    fixed = [0, 2 * BLOCK_SIZE, 3 * BLOCK_SIZE, BLOCK_SIZE + 1, 3 * BLOCK_SIZE - 1,
             rng.randrange(1, BLOCK_SIZE)]
    rest = LARGE_FILES - len(fixed)
    budget = LARGE_TOTAL_BYTES - sum(fixed)
    mean = budget // rest
    spread = min(LARGE_MAX_BYTES - mean, mean)
    while True:
        sizes = [rng.randrange(mean - spread, mean + spread) for _ in range(rest - 1)]
        last = budget - sum(sizes)
        if 1 <= last <= LARGE_MAX_BYTES:
            break
    sizes = fixed + sizes + [last]
    rng.shuffle(sizes)
    return sizes


def _write(path, data):
    with open(path, "wb") as f:
        f.write(data)


def _content(seed, ids, size):
    """seeded bytes for one file: random up to REPEAT bytes; past that the
    random block repeats with the file's ids and the repeat number stamped
    at its head, so no two blocks of the tree are equal"""
    block = np.random.Generator(np.random.PCG64([seed & 0xFFFFFFFF] + ids)).bytes(min(size, REPEAT))
    if size <= REPEAT:
        return block
    data = bytearray(block * (size // REPEAT + 1))
    del data[size:]
    for i in range(0, size // REPEAT + 1):
        stamp = struct.pack("<4Q", *ids, i)
        data[i * REPEAT:i * REPEAT + len(stamp)] = stamp[:max(0, size - i * REPEAT)]
    return bytes(data)


def generate(kind, seed, root):
    """Write the ``kind`` tree ("migrate" or "warmup") for ``seed``
    under ``root``/src and its manifest and identity map under ``root``.
    Returns a summary dict (entries, files, bytes)."""
    rng = random.Random("%s:%d" % (kind, seed))
    src = os.path.join(root, "src")
    os.makedirs(src, exist_ok=True)
    if kind == "migrate":
        dirs = _dir_tree(rng, SMALL_DIRS, "proj")
        counts = _files_per_dir(rng, SMALL_FILES, len(dirs))
        sizes = [[rng.randrange(0, SMALL_MAX_BYTES + 1) for _ in range(c)] for c in counts]
        large = _large_sizes(rng)
        dirs += _dir_tree(rng, LARGE_DIRS, "warehouse")
        sizes += [large[i::LARGE_DIRS] for i in range(LARGE_DIRS)]
    elif kind == "warmup":
        dirs = ["/warm0", "/warm0/d1"]
        sizes = [[0, 4096], [BLOCK_SIZE + 7]]  # one file takes two chunks
    else:
        raise ValueError("unknown tree kind: " + kind)

    owner = _skewed(rng, USERS)
    group = _skewed(rng, GROUPS)
    records = {}  # local dir -> [(child name, owner, group, perms)]
    manifest = []
    n_bytes = 0
    n_files = 0
    for d in dirs:
        os.makedirs(src + d, exist_ok=True)
        parent, name = d.rsplit("/", 1)
        entry = (owner(), group(), rng.choice(DIR_PERMS))
        records.setdefault(parent or "/", []).append((name,) + entry)
        manifest.append((d, "d", 0) + entry)
    for di, d in enumerate(dirs):
        for fi, size in enumerate(sizes[di]):
            name = ("part-%05d.bin" if d.startswith("/warehouse") else "f%05d.dat") % fi
            path = "%s/%s" % (d, name)
            _write(src + path, _content(seed, [KINDS.index(kind), di, fi], size))
            entry = (owner(), group(), rng.choice(FILE_PERMS))
            records.setdefault(d, []).append((name,) + entry)
            manifest.append((path, "f", size) + entry)
            n_bytes += size
            n_files += 1
    for d, children in records.items():
        lines = ["\t".join(c) for c in sorted(children)]
        _write(os.path.join(src + ("" if d == "/" else d), OWNER_RECORD),
               "\n".join(lines).encode())

    # identity remap: about four in five principals move to a new identity,
    # the rest stay unmapped and must pass through unchanged
    idmap = []
    for itype, names in (("user", USERS), ("group", GROUPS)):
        for n in names:
            if rng.random() < 0.8:
                idmap.append((itype, n, "aad-%s-%08x@contoso.example" % (n, rng.getrandbits(32))))
    manifest.sort()
    with open(os.path.join(root, "manifest.tsv"), "w") as f:
        for row in manifest:
            f.write("\t".join(str(x) for x in row) + "\n")
    with open(os.path.join(root, "idmap.tsv"), "w") as f:
        for row in idmap:
            f.write("\t".join(row) + "\n")
    return {"entries": len(manifest), "files": n_files, "bytes": n_bytes}


def read_manifest(root):
    """manifest rows: (path, is_folder, length, owner, group, perms)"""
    rows = []
    with open(os.path.join(root, "manifest.tsv")) as f:
        for line in f:
            p, kind, size, o, g, perms = line.rstrip("\n").split("\t")
            rows.append((p, kind == "d", int(size), o, g, perms))
    return rows


def read_idmap(root):
    """{(itype, source): target}"""
    out = {}
    with open(os.path.join(root, "idmap.tsv")) as f:
        for line in f:
            itype, source, target = line.rstrip("\n").split("\t")
            out[(itype, source)] = target
    return out
