#!/usr/bin/env python3
"""The repository benchmark: one command that builds the program, makes a
workload's inputs from a seed, runs it in a fresh program JVM, checks the
outputs and prints one JSON result line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload diag_logs --seed 1 --seconds 5 --trace 0

Workloads (see BENCHMARK.json):
  diag_logs   `DiagReport` over a generated 24-node diagnostic tree with
              ~24 MB of system logs (half in zipped rotations) and 40
              tables: one cold report, then warm reports.
  corpus_mix  a fixed query mix, one query or more per family, over a
              generated corpus: one cold pass on an empty layer warehouse
              (layer builds included), then warm passes reading the layers.

`--trace 0` prints the end-to-end metrics, measured without tracing.
`--trace 1` prints the per-layer metrics from a traced run (spans around
each call into the program's modules, with Spark task metrics folded per
span), the untraced warm time and the tracing overhead.

Everything the benchmark writes stays under perfbench/.work: the compiled
classpath, the per-seed inputs (cached), the per-run scratch directory
(deleted at the end) and the result artifact of each run.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 170           # a run must end within 180 s
BUILD_LIMIT_S = 840         # a first run, which builds, within 900 s
JVM_HEAP = "2g"
CORPUS_QUERIES = ["q01", "q02", "q18", "dd04", "ss02", "ta11", "sp04", "cp01", "mm01"]
DIAG_SHAPE = ["--nodes", "24", "--keyspaces", "4", "--tables", "10", "--log-mb", "24"]
CORPUS_SF = "0.02"
# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HARNESS, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def program_jars():
    """The unmanaged jar directory of the program's own build."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'^unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read(), re.M)
    if not m:
        fail("the program's build.sbt names no unmanagedBase directory")
    return m.group(1)


def build():
    """Compile the program's sources with the harness (sbt, offline) once
    per source state; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["digest"] == digest and all(os.path.exists(p) for p in b["classpath"]):
            return b["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log("building the program and the harness (sbt, offline)")
    # JAVA_TOOL_OPTIONS reaches the launcher script's own java probes too
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               TMPDIR=tmp)
    repos = os.path.expanduser("~/.sbt/repositories")
    # keep sbt's own state and scratch files inside the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    opts.append(f"-Dperfbench.jars={program_jars()}")
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, capture_output=True, text=True,
                       timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip().split(os.pathsep)
    if not all(os.path.exists(p) for p in classpath):
        sys.stderr.write(r.stdout[-4000:])
        fail("build did not export a usable classpath")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def java(classpath, args, cwd, timeout, log_path):
    """Run the harness JVM to completion; returns its launch epoch."""
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
           ["-cp", os.pathsep.join(classpath), "graft.perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(cwd, "local"), TMPDIR=tmp)
    with open(log_path, "w") as err:
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=err, stderr=err,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness {args[0]} exited with {code}", 1)
    return launched


# ------------------------------------------------------------------ inputs

def cached(kind, seed, make):
    """Per-seed input directory, generated once (excluded from timing).
    Only the three most recent seeds of each kind are kept."""
    base = os.path.join(WORK, "inputs")
    d = os.path.join(base, f"{kind}-seed{seed}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        make(d)
        open(os.path.join(d, "DONE"), "w").close()
    os.utime(d)
    old = sorted(glob.glob(os.path.join(base, f"{kind}-seed*")), key=os.path.getmtime)
    for o in old[:-3]:
        shutil.rmtree(o, ignore_errors=True)
    return d


def gen(script, args):
    subprocess.run([sys.executable, os.path.join(HERE, script)] + args, check=True,
                   stdin=subprocess.DEVNULL)


def oracle_sql(classpath):
    """Full names and DuckDB oracle SQL of the corpus_mix queries, dumped
    once per build by the harness."""
    path = os.path.join(WORK, "oracle.json")
    with open(os.path.join(WORK, "build.json")) as f:
        digest = json.load(f)["digest"]
    if os.path.exists(path):
        with open(path) as f:
            o = json.load(f)
        if o.get("digest") == digest and o.get("prefixes") == CORPUS_QUERIES:
            return o
    scratch = os.path.join(WORK, "oracle-run")
    os.makedirs(scratch, exist_ok=True)
    out = os.path.join(scratch, "oracle.json")
    java(classpath, ["oracle-sql", out, ",".join(CORPUS_QUERIES)], scratch, 120,
         os.path.join(scratch, "jvm.log"))
    with open(out) as f:
        o = json.load(f)
    o.update(digest=digest, prefixes=CORPUS_QUERIES)
    with open(path, "w") as f:
        json.dump(o, f)
    shutil.rmtree(scratch, ignore_errors=True)
    return o


# ------------------------------------------------------------ fingerprints

def norm_type(t):
    """Representation-only Arrow type differences between the engines
    (the same normalization as tools/check_oracle.py)."""
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


def fingerprint(table):
    """Order-sensitive digest of a result: columns by name, each with its
    normalized type and exact values (timestamps as UTC microseconds)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    h = hashlib.sha256()
    for name in sorted(table.column_names):
        col = table.column(name)
        h.update(f"{name}:{norm_type(col.type)}:".encode())
        if pa.types.is_timestamp(col.type):
            col = pc.cast(col, pa.timestamp("us", tz=col.type.tz)).cast(pa.timestamp("us"))
        h.update(repr(col.to_pylist()).encode())
    return f"{table.num_rows}:{h.hexdigest()}"


def read_result(path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    parts = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    if not os.path.exists(os.path.join(path, "_SUCCESS")) or not parts:
        raise FileNotFoundError(f"no complete result at {path}")
    return pa.concat_tables([pq.read_table(p) for p in parts])


def oracle_fingerprints(corpus, oracle):
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    return {q: fingerprint(con.sql(sql).arrow()) for q, sql in oracle["oracle"].items()}


# ------------------------------------------------------------------ checks

def close(a, b, rel=1e-9):
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def check_report(out, facts):
    """Mismatches between one DiagReport output directory and the facts
    its tree was generated with."""
    import pyarrow.parquet as pq
    bad = []
    with open(os.path.join(out, "summary.json")) as f:
        s = json.load(f)
    if s["cluster"] != facts["cluster"]:
        bad.append(f"cluster {s['cluster']}")
    reads = writes = 0.0
    for tbls in s["workload"].values():
        if isinstance(tbls, dict):
            for blocks in tbls.values():
                reads += blocks.get("read", {}).get("read_req", 0)
                writes += blocks.get("write", {}).get("write_req", 0)
    if not close(reads, facts["total_reads"]):
        bad.append(f"total reads {reads} != {facts['total_reads']}")
    if not close(writes, facts["total_writes"]):
        bad.append(f"total writes {writes} != {facts['total_writes']}")
    if not close(s["dataset_size"]["total"], facts["total_size"]):
        bad.append(f"dataset size {s['dataset_size']['total']}")
    for tab, n in facts["rows"].items():
        got = pq.read_table(os.path.join(out, tab)).num_rows
        if got != n:
            bad.append(f"{tab} rows {got} != {n}")
    gc = pq.read_table(os.path.join(out, "gc_pauses")).to_pylist()
    db = [r for r in gc if r["level"] == "Database"]
    if not db or db[0]["pauses"] != facts["gc_events"] or db[0]["max_ms"] != facts["gc_max_ms"]:
        bad.append(f"gc database row {db[:1]}")
    ts = pq.read_table(os.path.join(out, "tombstones")).column("tombstones").to_pylist()
    if max(ts, default=0) != facts["tombstone_max"]:
        bad.append(f"tombstone max {max(ts, default=0)}")
    xlsx = os.path.join(out, f"{facts['cluster']}_astra_chart.xlsx")
    if not zipfile.is_zipfile(xlsx):
        bad.append("xlsx workbook missing or not a zip")
    return bad


def check_diag(res, facts, trace):
    """Failed operations (report output dirs, and the traced parse probe)
    mapped to what went wrong."""
    failed = {}
    for f in res["failures"]:
        failed[f.split(":")[0]] = f
    for out in res["outputs"]:
        try:
            bad = check_report(out, facts)
        except Exception as e:  # noqa: BLE001 — a missing tab is a failed report
            bad = [f"{type(e).__name__}: {e}"]
        if bad:
            failed[out] = f"{out}: {'; '.join(bad)}"
    if trace:
        lay = res["layers"]
        bad = [f"{k} {lay[k]} != {facts[fk]}" for k, fk in [
            ("parse.gc_events", "gc_events"), ("parse.tombstone_events", "tombstone_events")]
            if lay[k] != facts[fk]]
        if bad:
            failed["parse probe"] = "; ".join(bad)
    return failed


def check_corpus(res, expected):
    """Failed operations (one query in one pass) mapped to what went wrong:
    each result is checked against its DuckDB fingerprint or, for a query
    without an oracle entry, against its cold-pass result."""
    failed = {}
    for f in res["failures"]:
        failed[f.split(":")[0]] = f
    cold = {}
    for i, p in enumerate(res["passes"]):
        for q in res["queries"]:
            op = f"{p['dir']}/{q}"
            if op in failed:
                continue
            try:
                fp = fingerprint(read_result(op))
            except Exception as e:  # noqa: BLE001 — an unreadable result is a failure
                failed[op] = f"{op}: {type(e).__name__}: {e}"
                continue
            if i == 0:
                cold[q] = fp
            want = expected.get(q, cold.get(q))
            if fp != want:
                failed[op] = f"{op}: fingerprint {fp} != {want}"
    return failed


# ------------------------------------------------------------------- stamp

def foreign_jvms():
    """Java processes on the box that this run did not start."""
    mine = {os.getpid()}
    pids = []
    for d in glob.glob("/proc/[0-9]*"):
        try:
            with open(f"{d}/comm") as f:
                if f.read().strip() != "java":
                    continue
            with open(f"{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            if ppid not in mine:
                pids.append(int(os.path.basename(d)))
        except (OSError, ValueError, IndexError):
            pass
    return sorted(pids)


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["diag_logs", "corpus_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, os.getcwd())}; "
             "run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath = build()
    if a.workload == "diag_logs":
        inputs = cached("diag", a.seed, lambda d: gen(
            "gen_diag.py", ["--seed", str(a.seed), "--out", os.path.join(d, "tree")] + DIAG_SHAPE))
        with open(os.path.join(inputs, "tree.facts.json")) as f:
            facts = json.load(f)
        mode_args = [os.path.join(inputs, "tree")]
    else:
        oracle = oracle_sql(classpath)

        def make_corpus(d):
            gen("gen_corpus.py", ["--seed", str(a.seed), "--sf", CORPUS_SF,
                                  "--out", os.path.join(d, "corpus")])
            with open(os.path.join(d, "fingerprints.json"), "w") as f:
                json.dump(oracle_fingerprints(os.path.join(d, "corpus"), oracle), f)
        inputs = cached(f"corpus-sf{CORPUS_SF}", a.seed, make_corpus)
        with open(os.path.join(inputs, "fingerprints.json")) as f:
            expected = json.load(f)
        mode_args = [os.path.join(inputs, "corpus")]

    # one run at a time: a failed run's directory is kept until the next run
    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}")
    os.makedirs(run_dir)
    # flush the freshly generated inputs and the previous run's deletions
    # now, so their writeback does not land inside the timed region
    os.sync()
    stamp = {"load1_start": load1(), "foreign_jvms_start": foreign_jvms()}
    result_path = os.path.join(run_dir, "result.json")
    jvm_mode = "diag" if a.workload == "diag_logs" else "corpus"
    args = [jvm_mode, result_path] + mode_args + [
        os.path.join(run_dir, "work"), str(a.seconds), str(a.trace)]
    if jvm_mode == "corpus":
        args.append(",".join(CORPUS_QUERIES))
    launched = java(classpath, args, run_dir,
                    max(10, RUN_LIMIT_S - (time.time() - t_start)),
                    os.path.join(run_dir, "jvm.log"))
    stamp.update(load1_end=load1(), foreign_jvms_end=foreign_jvms())
    if stamp["foreign_jvms_start"] or stamp["foreign_jvms_end"]:
        log(f"warning: other JVMs were running: {stamp}")
    with open(result_path) as f:
        res = json.load(f)

    failed = (check_diag(res, facts, a.trace) if jvm_mode == "diag"
              else check_corpus(res, expected))
    for msg in list(failed.values())[:20]:
        log(f"FAILED {msg}")
    # the traced diag run also checks its parse probe
    attempted = res["attempted"] + (1 if a.trace and jvm_mode == "diag" else 0)
    warm = statistics.median(res["warm_s"]) if res["warm_s"] else float("nan")
    values = {
        "setup_s": res["ready_epoch_s"] - launched,
        "cold_s": res["cold_s"],
        "warm_s": warm,
        "input_mb_per_s": res["input_bytes"] / 1e6 / warm,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    if a.trace:
        values = res["layers"]
        keys = spec["per_layer"]
    else:
        keys = spec["end_to_end"]
    # a layer the workload does not run reports 0; a value a failed
    # operation left unmeasured reports null
    metrics = {}
    for m in keys:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v if v is not None and math.isfinite(v) else None,
                              "unit": m["unit"]}

    # the run's artifact: the harness result (with the spans, when traced)
    # plus the contention stamp and the checks
    res.update(stamp=stamp, failed=failed, metrics=metrics, seed=a.seed)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
