#!/usr/bin/env python3
"""Stored footprint of a parquet tree, read from the file footers.

Usage:
  python3 tools/footprint.py <dir> [--columns]

<dir> is a staged warehouse (e.g. target/warehouse/graft.db) or a layout
tree (e.g. a CorpusFixture root under target/sinks/_fixture/). Every
parquet file under it is assigned to a relation (its directory with the
`key=value` partition directories removed) and a generation (the value
of its first `gen=` or `batch=` directory, `-` when there is none).

For each relation and generation it prints the compressed column bytes,
the row count, the file bytes and the file count; with --columns, one
line per column as well: compressed bytes, physical type (with its
converted type), the encodings the footer lists and the value count.
The tail totals the bytes that are not parquet data: the `.crc`
checksum sidecars, the layouts' commit records (`_snap/<id>`) and the
marker files (`_SUCCESS`, `_writer/<epoch>` and any other non-parquet
file).
"""
import argparse
import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq

GEN_KEYS = ("gen", "batch")


def place(rel_path):
    """(relation, generation) of a parquet file path relative to the root."""
    parts = rel_path.split(os.sep)[:-1]
    relation = [p for p in parts if "=" not in p]
    gen = next((p.split("=", 1)[1] for p in parts
                if "=" in p and p.split("=", 1)[0] in GEN_KEYS), "-")
    return "/".join(relation) or ".", gen


def physical(col):
    """Physical type of a schema column, with its converted type if any
    (TIMESTAMP_MICROS for an INT64 timestamp; an INT96 one has none)."""
    t = col.physical_type
    if col.converted_type not in (None, "NONE"):
        t += f" {col.converted_type}"
    return t


def human(n):
    for unit in ("B", "KB", "MB", "GB"):
        if abs(n) < 1000 or unit == "GB":
            return f"{n:.0f} {unit}" if unit == "B" else f"{n:.2f} {unit}"
        n /= 1000.0


def scan(root):
    cols = defaultdict(lambda: {"bytes": 0, "values": 0, "types": set(),
                                "encodings": set()})
    gens = defaultdict(lambda: {"bytes": 0, "rows": 0, "file_bytes": 0,
                                "files": 0})
    other = {"crc": [0, 0], "record": [0, 0], "marker": [0, 0]}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            size = os.path.getsize(p)
            if f.endswith(".crc"):
                kind = "crc"
            elif os.path.basename(d) == "_snap":
                kind = "record"
            elif f.endswith(".parquet") and not f.startswith((".", "_")):
                rel, gen = place(os.path.relpath(p, root))
                md = pq.ParquetFile(p).metadata
                g = gens[(rel, gen)]
                g["rows"] += md.num_rows
                g["file_bytes"] += size
                g["files"] += 1
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    for j in range(rg.num_columns):
                        c = rg.column(j)
                        e = cols[(rel, gen, c.path_in_schema)]
                        e["bytes"] += c.total_compressed_size
                        e["values"] += c.num_values
                        e["types"].add(physical(md.schema.column(j)))
                        e["encodings"].update(c.encodings)
                        g["bytes"] += c.total_compressed_size
                continue
            else:
                kind = "marker"
            other[kind][0] += size
            other[kind][1] += 1
    return cols, gens, other


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir")
    ap.add_argument("--columns", action="store_true",
                    help="one line per column as well")
    a = ap.parse_args()
    if not os.path.isdir(a.dir):
        sys.exit(f"footprint: not a directory: {a.dir}")
    cols, gens, other = scan(a.dir)

    print(f"{'relation':<36} {'gen':<12} {'col bytes':>11} {'rows':>9} "
          f"{'file bytes':>11} {'files':>5}")
    by_rel = defaultdict(lambda: [0, 0])
    for (rel, gen), g in sorted(gens.items()):
        print(f"{rel:<36} {gen:<12} {human(g['bytes']):>11} {g['rows']:>9} "
              f"{human(g['file_bytes']):>11} {g['files']:>5}")
        by_rel[rel][0] += g["file_bytes"]
        by_rel[rel][1] += g["files"]
        if a.columns:
            for (r, gg, name), e in sorted(cols.items()):
                if (r, gg) != (rel, gen):
                    continue
                print(f"    {name:<28} {human(e['bytes']):>11} "
                      f"{'/'.join(sorted(e['types'])):<34} "
                      f"{','.join(sorted(e['encodings'])):<48} {e['values']}")
    print()
    for rel, (b, n) in sorted(by_rel.items()):
        print(f"{rel:<36} {'(all)':<12} {human(b):>33} {n:>5}")
    parquet = sum(b for b, _ in by_rel.values())
    files = sum(n for _, n in by_rel.values())
    total = parquet + sum(b for b, _ in other.values())
    print()
    print(f"parquet  {human(parquet):>11} in {files} files")
    print(f"crc      {human(other['crc'][0]):>11} in {other['crc'][1]} files")
    print(f"records  {human(other['record'][0]):>11} in {other['record'][1]} files")
    print(f"markers  {human(other['marker'][0]):>11} in {other['marker'][1]} files")
    print(f"total    {human(total):>11}")


if __name__ == "__main__":
    main()
