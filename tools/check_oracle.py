"""Local replica of the driver's t2 correctness gate.

Runs every registered query through Spark AND its DuckDB oracle on the
same parquet, compares row-count, column names, and an order-insensitive
value hash (values normalized: floats rounded via repr, timestamps to
ISO).  Queries registered in ALL_TOLERANCE_ORACLES (approx sketches)
are instead graded cell-by-cell within ±rel_tol of the exact answer.
Usage:

    python tools/check_oracle.py [--json OUT.json]
                                 [--sample N --seed R] [sf_dir] [query ...]

--sample N --seed R re-verifies a seeded random N-query subset of the
full registry (reproducible by anyone with the same seed); the
round-close ritual commits its transcript as ORACLE_SAMPLE.json.
"""

from __future__ import annotations

import decimal
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def normalize_cell(v):
    import datetime
    import math
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_signature(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    norm_rows = sorted(
        tuple(normalize_cell(r[i]) for i in order) for r in rows)
    import hashlib
    h = hashlib.sha256()
    for r in norm_rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return sorted_cols, len(norm_rows), h.hexdigest(), norm_rows


# DuckDB settings one oracle runs under, reset after it.  The recursive
# CTE of dedup_components inlines its n-gram CTEs at every reference
# (208 parquet scans in the anchor and as many in the recursive step,
# as a DuckDB profile at sf0.01 shows); at sf0.1 it fails the default
# limit with "failed to pin block of size 256.0 KiB" unless filter
# pushdown is off, and then finishes in 115 s within 7GB.
ORACLE_SETTINGS = {
    "dedup_components": {"disabled_optimizers": "'filter_pushdown'"},
}


def run_oracle(con, name: str, sql: str):
    """(column names, rows) of one oracle's SQL under its
    ``ORACLE_SETTINGS``."""
    settings = ORACLE_SETTINGS.get(name, {})
    for key, value in settings.items():
        con.execute(f"SET {key}={value}")
    try:
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        for key in settings:
            con.execute(f"RESET {key}")


def tolerance_match(scols, srows, ocols, orows, rel_tol):
    """Order-insensitive compare where numeric cells may deviate by
    ±rel_tol from the oracle value; non-numeric cells must be equal.
    Rows are aligned by sorting both sides on their normalized
    non-numeric cells (the group keys) — numeric cells can't key because
    they may be approximate.  Tolerance oracles therefore need a UNIQUE
    non-numeric key per row; ambiguous alignment fails loudly instead of
    comparing cells from unrelated rows."""
    if sorted(scols) != sorted(ocols):
        return False, "columns differ"
    sorder = sorted(range(len(scols)), key=lambda i: scols[i])
    oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
    # Decimal counts as numeric too: DuckDB returns decimal.Decimal for
    # DECIMAL aggregates (e.g. median over a DECIMAL column); treating it
    # as a key cell would demand exact equality and silently defeat the
    # ±rel_tol grading.
    def is_numeric(c):
        return (isinstance(c, (int, float, decimal.Decimal))
                and not isinstance(c, bool))

    def keyed(rows, order):
        out = []
        for r in rows:
            cells = [r[i] for i in order]
            key = tuple(normalize_cell(c) for c in cells if not is_numeric(c))
            out.append((key, cells))
        return sorted(out, key=lambda kv: kv[0])
    s, o = keyed([tuple(r) for r in srows], sorder), keyed(orows, oorder)
    if len(s) != len(o):
        return False, f"row counts differ: {len(s)}/{len(o)}"
    for side, rows_ in (("spark", s), ("oracle", o)):
        keys = [k for k, _ in rows_]
        if len(set(keys)) != len(keys):
            return False, (f"ambiguous row alignment ({side} side): "
                           "tolerance oracles need a unique non-numeric "
                           "key per row")
    for (sk, sc_), (ok_, oc_) in zip(s, o):
        if sk != ok_:
            return False, f"group keys differ: {sk} vs {ok_}"
        for a, b in zip(sc_, oc_):
            if is_numeric(a) and is_numeric(b):
                denom = max(abs(float(b)), 1e-12)
                if abs(float(a) - float(b)) / denom > rel_tol:
                    return False, f"cell off by >{rel_tol:.0%}: {a} vs {b}"
            elif normalize_cell(a) != normalize_cell(b):
                return False, f"cell differs: {a!r} vs {b!r}"
    return True, None


def main():
    # argparse (r16 advice): the old hand-rolled loop only consumed
    # flags BEFORE positionals, so `check_oracle.py sf_dir --sample 20`
    # silently treated the flags as query-name filters and verified
    # nothing sampled.  argparse accepts flags anywhere and rejects
    # unknown ones loudly.
    import argparse
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--json", dest="json_out", metavar="OUT.json")
    ap.add_argument("--sample", type=int, default=None, metavar="N")
    ap.add_argument("--seed", type=int, default=None, metavar="R")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*", metavar="query")
    ns = ap.parse_args()
    json_out = ns.json_out
    sample_n, sample_seed = ns.sample, ns.seed
    sf_dir = ns.sf_dir
    only = set(ns.queries)

    from bigarrays_jl_spark.operators import (ALL_ORACLES, ALL_QUERIES,
                                              ALL_TOLERANCE_ORACLES)
    from bigarrays_jl_spark.session import get_spark

    # --sample N --seed R: re-verify a seeded random subset of the full
    # registry (r15 verdict task 7) — the round-close ritual commits
    # the transcript (ORACLE_SAMPLE.json) so any third party can rerun
    # the identical subset in minutes and check the claim; the seed is
    # recorded in the artifact
    if sample_n is not None:
        import random
        if sample_seed is None:
            raise SystemExit("--sample requires --seed (the transcript "
                             "must be third-party reproducible)")
        names = sorted(ALL_QUERIES)
        rng = random.Random(sample_seed)
        only = set(rng.sample(names, min(sample_n, len(names))))
        print(f"# seeded sample: n={len(only)} seed={sample_seed} "
              f"of {len(names)} registered queries")

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # bound the oracle's memory and give it a spill path: DuckDB's
    # default limit is ~80% of RAM *detected at connect*, but by the
    # tail of a 140-query sweep the long-lived Spark JVM owns much of
    # that — the combination turned heavy oracles into bad_alloc
    # failures that a bounded, spill-capable config completes fine
    # limit derives from the host (1/2 of physical RAM, capped at 24GB)
    # unless ORACLE_DUCKDB_MEM overrides — a hardcoded 24GB over-commits
    # on smaller hosts and gets OOM-killed instead of spilling, and a
    # quarter of a 15 GiB host (3GB) fails the dedup_components and
    # dedup_audit_pr oracles with "Out of Memory Error" even with spill
    mem = os.environ.get("ORACLE_DUCKDB_MEM")
    if not mem:
        try:
            gb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) / 2**30
            mem = f"{max(2, min(24, int(gb // 2)))}GB"
        except (ValueError, OSError):
            mem = "8GB"
    con.execute(f"SET memory_limit='{mem}'")
    con.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    report = {}
    for name, fn in ALL_QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            report[name] = {"status": "FAIL", "err": f"spark error: {e}"[:500]}
            continue
        sql = ALL_ORACLES.get(name)
        if sql is None and name in ALL_TOLERANCE_ORACLES:
            sql, rel_tol = ALL_TOLERANCE_ORACLES[name]
            try:
                ocols, orows = run_oracle(con, name, sql)
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: duckdb error: {e}")
                failures.append(name)
                report[name] = {"status": "FAIL",
                                "err": f"duckdb error: {e}"[:500]}
                continue
            ok, why = tolerance_match(scols, srows, ocols, orows, rel_tol)
            status = "PASS" if ok else "FAIL"
            print(f"{status} {name}: rows={len(srows)}/{len(orows)} "
                  f"tolerance=±{rel_tol:.0%}"
                  + (f" ({why})" if why else "")
                  + f" [{time.time()-t0:.1f}s]")
            if not ok:
                failures.append(name)
            report[name] = {"status": status, "mode": "tolerance",
                            "rel_tol": rel_tol, "rows_spark": len(srows),
                            "rows_oracle": len(orows), "err": why,
                            "secs": round(time.time() - t0, 2)}
            continue
        if sql is None:
            print(f"---- {name}: no oracle (rows-only) rows={len(srows)} "
                  f"[{time.time()-t0:.1f}s]")
            report[name] = {"status": "ROWS_ONLY", "rows_spark": len(srows),
                            "secs": round(time.time() - t0, 2)}
            continue
        try:
            ocols, orows = run_oracle(con, name, sql)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            report[name] = {"status": "FAIL", "err": f"duckdb error: {e}"[:500]}
            continue
        sc, sn, sh, snorm = table_signature(scols, [tuple(r) for r in srows])
        oc, on, oh, onorm = table_signature(ocols, orows)
        ok = (sc == oc) and (sn == on) and (sh == oh)
        status = "PASS" if ok else "FAIL"
        print(f"{status} {name}: rows={sn}/{on} cols_match={sc == oc} "
              f"hash_match={sh == oh} [{time.time()-t0:.1f}s]")
        report[name] = {"status": status, "rows_spark": sn, "rows_oracle": on,
                        "cols_match": sc == oc, "hash_match": sh == oh,
                        "secs": round(time.time() - t0, 2)}
        if not ok:
            failures.append(name)
            if sc != oc:
                print(f"   spark cols: {sc}\n   duck  cols: {oc}")
            else:
                sset, oset = set(snorm), set(onorm)
                for r in list(sset - oset)[:3]:
                    print(f"   spark-only: {r}")
                for r in list(oset - sset)[:3]:
                    print(f"   duck-only:  {r}")
    print(f"\n{len(failures)} failures: {failures}" if failures
          else "\nall queries match")
    if json_out:
        import json
        import subprocess
        # stamp the generating commit so tools/check_artifact_fresh.py
        # can fail the round-close when registry-touching commits
        # postdate the artifact (r10 verdict task 3)
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], capture_output=True,
                text=True, cwd=os.path.dirname(os.path.dirname(
                    os.path.abspath(__file__)))).stdout.strip() or None
        except OSError:
            commit = None
        payload = {"sf_dir": sf_dir, "n_queries": len(report),
                   "n_failures": len(failures), "commit": commit,
                   "queries": report}
        if sample_n is not None:
            payload["sample"] = {"n": sample_n, "seed": sample_seed,
                                 "names": sorted(only)}
        with open(json_out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
