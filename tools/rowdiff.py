#!/usr/bin/env python3
"""Compare two Verify dumps by their decoded rows.

Usage: python3 tools/rowdiff.py <dirA> <dirB> [query,query,...]

Parquet files written by two runs of the same code are not
byte-identical (parquet-mr orders a column chunk's encodings list
differently between JVMs), so `cmp` cannot tell whether a result
changed. This reads each query dir with pyarrow and compares the
schema and the `to_pylist()` rows, in order. With no query list, every
query dir under either dump is compared.

Prints one `same` or `DIFF` line per query; exits 1 on any difference
or missing dir.
"""
import math
import os
import sys

import pyarrow.parquet as pq


def canon(x):
    """NaN-safe comparable form of a decoded cell (NaN != NaN)."""
    if isinstance(x, float) and math.isnan(x):
        return "NaN"
    if isinstance(x, dict):
        return {k: canon(v) for k, v in x.items()}
    if isinstance(x, list):
        return [canon(v) for v in x]
    return x


def load(path):
    t = pq.read_table(path)
    return t.schema, canon(t.to_pylist())


def query_dirs(d):
    return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}


def main(argv):
    if len(argv) not in (3, 4):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    qs = (sorted(q for q in argv[3].split(",") if q) if len(argv) == 4
          else sorted(query_dirs(a) | query_dirs(b)))
    bad = 0
    for q in qs:
        pa, pb = os.path.join(a, q), os.path.join(b, q)
        missing = [p for p in (pa, pb) if not os.path.isdir(p)]
        if missing:
            print(f"DIFF {q}: missing {', '.join(missing)}")
            bad += 1
            continue
        (sa, ra), (sb, rb) = load(pa), load(pb)
        if not sa.equals(sb):
            print(f"DIFF {q}: schema {sa} vs {sb}")
        elif ra != rb:
            at = next((i for i, (x, y) in enumerate(zip(ra, rb)) if x != y),
                      min(len(ra), len(rb)))
            print(f"DIFF {q}: {len(ra)} vs {len(rb)} rows, first at row {at}")
        else:
            print(f"same {q}: {len(ra)} rows")
            continue
        bad += 1
    print(f"{len(qs) - bad} same, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
