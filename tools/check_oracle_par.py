#!/usr/bin/env python3
"""Sharded variant of check_oracle.py for big scale factors: runs the
per-query DuckDB oracle comparisons across N worker processes (each
with its own DuckDB connection over the same parquet views) and writes
a driver-CORRECTNESS-style JSON artifact.

check_one is THE comparison (exact values, Arrow-schema types, sorted
column names); check_oracle.py calls it once per query in order, this
tool shards it — the sf1.0 pass is dominated by independent DuckDB
query wall time, so query-level sharding is embarrassingly parallel.

Usage:
  python3 tools/check_oracle_par.py <out_dir> <sf_dir> <nprocs> [artifact.json]

Builder-side dev tool only (driver python env), not part of the Scala
library.
"""
import datetime
import json
import math
import multiprocessing as mp
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_type(t) -> str:
    """Normalize representation-only Arrow type differences that the
    engines cannot agree on byte-for-byte (string vs large_string,
    timestamp unit/tz encoding); everything else — including integer
    width and decimal-vs-integer — must match exactly."""
    s = str(t)
    if s.startswith("timestamp"):
        return "timestamp"
    if s in ("large_string", "string"):
        return "string"
    if s in ("large_binary", "binary"):
        return "binary"
    for p in ("large_list<", "list<"):
        if s.startswith(p):
            return "list<" + norm_type(s[len(p):-1].split(": ", 1)[-1]) + ">"
    return s


def norm_val(x):
    if isinstance(x, datetime.datetime):
        if x.tzinfo is not None:
            x = x.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return x
    return x


def val_eq(x, y) -> bool:
    x, y = norm_val(x), norm_val(y)
    if x is None or y is None:
        return x is None and y is None
    if isinstance(x, float) or isinstance(y, float):
        if isinstance(x, float) and isinstance(y, float) \
                and math.isnan(x) and math.isnan(y):
            return True
        return x == y  # exact — the engines are expected to agree bitwise
    if isinstance(x, list) and isinstance(y, list):
        return len(x) == len(y) and all(val_eq(a, b) for a, b in zip(x, y))
    return x == y


def check_one(args):
    name, sql, out_dir, sf_dir = args
    import duckdb
    import pyarrow.parquet as pq
    t0 = time.time()
    rec = {"rows_match": False, "schema_match": False, "hash_match": False,
           "spark_rows": None, "oracle_rows": None, "err": None}
    _tmp, con = None, None
    try:
        # Per-worker spill directory (r11 post-mortem): by default every
        # worker spills to cwd/.tmp, so ONE worker's ENOSPC error-cleanup
        # deletes the OTHERS' live temp storage — they abort ("terminate
        # called ... Could not remove .tmp/duckdb_temp_storage") or park
        # on a futex forever (the r8 "wedged worker" too). Isolating the
        # temp dir per PID makes a spill failure single-query.
        import os as _os
        import tempfile as _tf
        _tmp = _tf.mkdtemp(prefix=f"duck_spill_{_os.getpid()}_")
        cfg = {"temp_directory": _tmp}
        # optional knob for heavy single-query retries (recheck_one):
        # DUCK_THREADS bounds parallel operator state (the spill driver —
        # cp03's sf1.0 oracle fits in <74 GB at 4 threads where 32
        # spilled past it). Never set preserve_insertion_order=false
        # here: on this DuckDB (1.0.0) it can scramble the FINAL row
        # order past the query's trailing ORDER BY, and the positional
        # compare then reports value mismatches on a correct result
        # (observed: ta17/ta18 false-negatives at sf10). A PASS under
        # the scrambled order would still have been trustworthy —
        # positional equality can't hold between differently-ordered
        # unequal rows — but the false FAILs make the knob useless.
        if _os.environ.get("DUCK_THREADS"):
            try:
                cfg["threads"] = int(_os.environ["DUCK_THREADS"])
            except ValueError:
                raise SystemExit(
                    f"DUCK_THREADS must be an integer, got "
                    f"{_os.environ['DUCK_THREADS']!r}")
        con = duckdb.connect(config=cfg)
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        got = pq.read_table(f"{out_dir}/{name}")
        exp = con.sql(sql).arrow()
        rec["spark_rows"], rec["oracle_rows"] = got.num_rows, exp.num_rows
        gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
        if gcols != ecols:
            rec["err"] = f"columns {gcols} != {ecols}"
            return name, rec, time.time() - t0
        if got.num_rows != exp.num_rows:
            rec["err"] = f"rows {got.num_rows} != {exp.num_rows}"
            return name, rec, time.time() - t0
        rec["rows_match"] = True
        for c in gcols:
            gt = norm_type(got.schema.field(c).type)
            et = norm_type(exp.schema.field(c).type)
            if gt != et:
                rec["err"] = (f"TYPE {c}: {got.schema.field(c).type} != "
                              f"{exp.schema.field(c).type}")
                return name, rec, time.time() - t0
        rec["schema_match"] = True
        for c in gcols:
            ga, ea = got.column(c).to_pylist(), exp.column(c).to_pylist()
            for i, (x, y) in enumerate(zip(ga, ea)):
                if not val_eq(x, y):
                    rec["err"] = f"value {c} row {i}: {x!r} != {y!r}"
                    return name, rec, time.time() - t0
        rec["hash_match"] = True
    except Exception as e:  # noqa: BLE001
        rec["err"] = f"{type(e).__name__}: {e}"
    finally:
        # one spill dir per check_one invocation — remove it or a long
        # run leaks a /tmp dir per query per worker
        try:
            if con is not None:
                con.close()
        except Exception:  # noqa: BLE001
            pass
        if _tmp is not None:
            import shutil as _sh2
            _sh2.rmtree(_tmp, ignore_errors=True)
    return name, rec, time.time() - t0


def reap_orphan_spills():
    """Delete tempdir duck_spill_<pid>_* dirs whose owning pid is dead: the
    per-worker rmtree-in-finally (r12) cannot run when a worker is
    SIGKILLed mid-query, and an orphaned sf10 spill dir can hold tens of
    GB (observed: 74 GB across three dead runs = a disk-full cascade)."""
    import glob
    import os as _os2
    import re as _re
    import shutil as _sh
    import tempfile as _tf2
    # scan the same directory mkdtemp writes to: the spill dirs honor
    # TMPDIR, a hardcoded /tmp would miss them under a relocated tmp
    for d in glob.glob(_os2.path.join(_tf2.gettempdir(), "duck_spill_*_*")):
        m = _re.match(r".*/duck_spill_(\d+)_", d)
        if not m:
            continue
        try:
            _os2.kill(int(m.group(1)), 0)   # signal 0: existence probe
        except ProcessLookupError:
            _sh.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass                            # alive under another uid


def main():
    reap_orphan_spills()
    out_dir, sf_dir, nprocs = sys.argv[1], sys.argv[2], int(sys.argv[3])
    artifact = sys.argv[4] if len(sys.argv) > 4 else None
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    jobs = [(n, s, out_dir, sf_dir) for n, s in sorted(oracle.items())]
    results = {}
    with mp.Pool(nprocs) as pool:
        for name, rec, secs in pool.imap_unordered(check_one, jobs):
            results[name] = rec
            status = "OK  " if rec["hash_match"] else "FAIL"
            extra = "" if rec["hash_match"] else f"  {rec['err']}"
            print(f"{status}  {name} ({rec['spark_rows']} rows, "
                  f"{secs:.1f}s){extra}", flush=True)
    results = {k: results[k] for k in sorted(results)}
    if artifact:
        json.dump(results, open(artifact, "w"), indent=0)
    ok = sum(1 for r in results.values() if r["hash_match"])
    print(f"\n{ok}/{len(oracle)} queries match")
    sys.exit(0 if ok == len(oracle) else 1)


if __name__ == "__main__":
    main()
