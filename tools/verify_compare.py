#!/usr/bin/env python3
"""Compare two graft.Verify output dirs query-by-query.

Local-dev analogue of the driver's DuckDB compare, for sweeps where the
oracle is another Verify run instead of DuckDB SQL: kernel-on vs
kernel-off whole-query parity, and cross-layout (local[8] vs local[16])
determinism, both at arbitrary SF. Canonicalization matches the
driver's: rows sorted by every column, floats compared BIT-exact (hex
of the IEEE bytes), list columns tuple-ized, then one digest per query.

Usage: verify_compare.py A_DIR B_DIR [--overlap name ...]

  --overlap: queries compared by row-set overlap fraction (>= 0.9) on
    their first column instead of bit equality — for results that are
    set-stable but not order/float-stable across the two legs (e.g.
    IVF under kernel-off, where Lloyd's merge order differs by design).

Exit 0 iff at least one query was compared and every query matches;
missing-on-either-side is a mismatch. graft.Verify logs a query that
throws and goes on, so a run in which every named query failed leaves
no query dir: that compares nothing and exits 1.
"""
import hashlib
import os
import struct
import sys

import pyarrow.parquet as pq


def canon_cell(v):
    if isinstance(v, float):
        return struct.pack("<d", v).hex()
    if isinstance(v, list):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def digest(d):
    t = pq.read_table(d)
    cols = sorted(t.schema.names)
    rows = [tuple(canon_cell(r[c]) for c in cols) for r in t.to_pylist()]
    rows.sort()
    h = hashlib.sha256()
    h.update(("|".join(cols)).encode())
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return len(rows), h.hexdigest()


def first_col_set(d):
    t = pq.read_table(d)
    c = t.schema.names[0]
    return set(canon_cell(v) for v in t.column(c).to_pylist())


def main():
    args = [a for a in sys.argv[1:] if a != "--overlap"]
    a_dir, b_dir = args[0], args[1]
    overlap_qs = set(args[2:])
    names = sorted(
        n for n in os.listdir(a_dir)
        if os.path.isdir(os.path.join(a_dir, n)))
    bad = []
    for n in names:
        pa, pb = os.path.join(a_dir, n), os.path.join(b_dir, n)
        if not os.path.isdir(pb):
            print(f"{n:28s} MISSING in {b_dir}")
            bad.append(n)
            continue
        if n in overlap_qs:
            sa, sb = first_col_set(pa), first_col_set(pb)
            frac = len(sa & sb) / max(len(sa | sb), 1)
            ok = frac >= 0.9
            print(f"{n:28s} overlap={frac:.3f} ({len(sa)} vs {len(sb)})"
                  f" {'ok' if ok else 'MISMATCH'}")
            if not ok:
                bad.append(n)
            continue
        (ra, ha), (rb, hb) = digest(pa), digest(pb)
        ok = ra == rb and ha == hb
        print(f"{n:28s} rows {ra} vs {rb}, "
              f"{'bit-identical' if ok else 'MISMATCH'}")
        if not ok:
            bad.append(n)
    extra = sorted(
        n for n in os.listdir(b_dir)
        if os.path.isdir(os.path.join(b_dir, n)) and n not in names)
    for n in extra:
        print(f"{n:28s} MISSING in {a_dir}")
        bad.append(n)
    print(f"\n{len(names) - len(bad)}/{len(names)} match"
          + (f"; BAD: {sorted(bad)}" if bad else ""))
    if not names:
        print(f"nothing compared: no query dir in {a_dir}")
    sys.exit(1 if bad or not names else 0)


if __name__ == "__main__":
    main()
