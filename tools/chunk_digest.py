#!/usr/bin/env python3
"""Digest a token chunk table on disk (the parquet files of a written
Dataset[EncodedChunk], e.g. a compaction's output dir), or compare two.

Every chunk field except `encode_ms` (a timing, not content) enters each
chunk's digest; a `part_id=<n>` directory supplies part_id when the files
lack the column. For each table the tool prints the file count, each
file's row count and parquet schema (REQUIRED/OPTIONAL included: a
pass-through rewrite must keep the schema of a typed write), and the
table digest over the sorted chunk digests. File names are not compared:
Spark names its output files per run.

With two dirs it compares the file counts, the multisets of file schemas
and the chunks keyed by (part_id, chunk_id), prints every difference and
exits 1 if there is any.
Usage: chunk_digest.py <dirA> [<dirB>]"""
import collections
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq

SKIP = {"encode_ms"}


def files_of(root):
    out = []
    for d, subdirs, names in os.walk(root):
        subdirs[:] = sorted(s for s in subdirs if not s.startswith((".", "_")))
        out += [os.path.join(d, n) for n in sorted(names)
                if n.endswith(".parquet") and not n.startswith((".", "_"))]
    return out


def canon(v):
    if isinstance(v, bytes):
        return {"bytes": hashlib.sha256(v).hexdigest(), "len": len(v)}
    if isinstance(v, list):
        return [canon(x) for x in v]
    return v


def load(root):
    """(per-file [(relpath, rows, schema)], {key: [(digest, fields)]})."""
    files, chunks = [], collections.defaultdict(list)
    for path in files_of(root):
        rel = os.path.relpath(path, root)
        f = pq.ParquetFile(path)
        # str() of a ParquetSchema starts with a line naming the object
        schema = "\n".join(l for l in str(f.schema).splitlines() if not l.startswith("<"))
        files.append((rel, f.metadata.num_rows, schema))
        part = [p.split("=", 1)[1] for p in rel.split(os.sep)[:-1] if p.startswith("part_id=")]
        for row in f.read().to_pylist():
            if "part_id" not in row and part:
                row["part_id"] = int(part[-1])
            fields = {k: canon(v) for k, v in sorted(row.items()) if k not in SKIP}
            digest = hashlib.sha256(json.dumps(fields, sort_keys=True).encode()).hexdigest()
            chunks[(fields.get("part_id"), fields.get("chunk_id"))].append((digest, fields))
    return files, chunks


def report(root, files, chunks):
    digests = sorted(d for cs in chunks.values() for d, _ in cs)
    table = hashlib.sha256("".join(digests).encode()).hexdigest()
    print(f"{root}: files={len(files)} chunks={len(digests)} digest={table}")
    schemas = {}
    for rel, rows, schema in files:
        sid = schemas.setdefault(schema, f"s{len(schemas)}")
        print(f"  file {rel} rows={rows} schema={sid}")
    for schema, sid in schemas.items():
        print(f"  schema {sid}:")
        print("    " + schema.strip().replace("\n", "\n    "))
    return table


def diff(a, b):
    (fa, ca), (fb, cb) = a, b
    n = 0
    if len(fa) != len(fb):
        print(f"DIFF file count: {len(fa)} vs {len(fb)}")
        n += 1
    sa = collections.Counter(s for _, _, s in fa)
    sb = collections.Counter(s for _, _, s in fb)
    if sa != sb:
        print("DIFF file schemas (schema: count A vs B):")
        for s in sorted(set(sa) | set(sb)):
            if sa[s] != sb[s]:
                print(f"  {sa[s]} vs {sb[s]}: " + " ".join(s.split()))
        n += 1
    for key in sorted(set(ca) | set(cb), key=str):
        ra = sorted(ca.get(key, []), key=lambda t: t[0])
        rb = sorted(cb.get(key, []), key=lambda t: t[0])
        if [d for d, _ in ra] == [d for d, _ in rb]:
            continue
        n += 1
        if len(ra) != len(rb):
            print(f"DIFF chunk {key}: {len(ra)} vs {len(rb)} rows with this key")
            continue
        for (_, x), (_, y) in zip(ra, rb):
            fields = [k for k in sorted(set(x) | set(y)) if x.get(k) != y.get(k)]
            print(f"DIFF chunk {key}: " + ", ".join(f"{k}: {x.get(k)} vs {y.get(k)}" for k in fields))
    return n


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    tables = [load(d) for d in argv[1:]]
    for d, (files, chunks) in zip(argv[1:], tables):
        report(d, files, chunks)
    if len(tables) == 1:
        return 0
    n = diff(*tables)
    print(f"{n} difference(s)")
    return 1 if n else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
