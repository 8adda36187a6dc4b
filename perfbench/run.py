#!/usr/bin/env python3
"""graft benchmark: one workload, closed loop, one client.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload batch|maintain \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, into
perfbench/target; the classpath is exported once to .bench_build), makes
the inputs from the seed, runs `perfbench.Harness` on local[<cores>] by
plain `java`, checks the outputs (DuckDB oracles, maintain invariants)
and prints one ASCII JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ledger. The line before it is the detail record (input sizes and layout,
cpus, seed, calibration sentinel, tail percentile and sample count,
maintain phase latencies and space amplification, failures). See
perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BASE_SLOTS = 40  # maintain: slots below this are the day-zero corpus, each later one a batch
HARNESS_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# generated input scale per workload (copies of the base blocks in gen.py)
SCALE = {
    "batch": {"rel_copies": 2, "corpus_copies": 2},
    "maintain": {"rel_copies": 1, "corpus_copies": 4},
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# files whose content decides the build
SOURCES = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src"),
           os.path.join("perfbench", "build.sbt"),
           os.path.join("perfbench", "project", "build.properties")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    h = hashlib.sha256()
    for s in SOURCES:
        p = os.path.join(ROOT, s)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile with sbt when the sources changed; return the exported
    runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -XX:-UsePerfData"
                       f" -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}").strip()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(ROOT, "perfbench"), stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=BUILD_TIMEOUT_S, env=env)
        log.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if "scala-2.13" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    with open(cp_file, "w") as fh:
        fh.write(digest + "\n" + lines[-1].strip())
    return lines[-1].strip()


def tail(xs):
    """(value, percentile, samples): the highest percentile with at least
    ten samples beyond it. Below 22 samples that percentile is not above
    the median; the tail is then the upper quartile (nearest rank)."""
    s = sorted(xs)
    n = len(s)
    i = n - 11 if n >= 22 else -(-3 * n // 4) - 1
    return s[i], round(100.0 * (i + 1) / n, 1), n


def oracle_failures(data, verify, names):
    """Compare each verified entry with its DuckDB oracle, using
    tools/oracle_check.py's comparison over the multi-file inputs."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    con = duckdb.connect()
    for t in oc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    with open(os.path.join(verify, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    failures = {}
    for name in names:
        out = os.path.join(verify, name)
        try:
            got_sql = f"SELECT * FROM read_parquet('{out}/*.parquet')"
            cur = con.execute(got_sql)
            got = ([d[0] for d in cur.description], cur.fetchall())
            if name in oracle:
                cur = con.execute(oracle[name])
                exp = ([d[0] for d in cur.description], cur.fetchall())
                msg = oc.compare(name, got, exp, oc.dtypes(con, got_sql),
                                 oc.dtypes(con, oracle[name]))
            else:
                continue  # no oracle: a readable output is the check
        except Exception as ex:  # an unreadable output or oracle error is a failure
            msg = f"FAIL {name}: {ex}"
        if msg.startswith("FAIL"):
            failures[name] = msg[:300]
    return failures


def snapshot_failures(data, verify, last_slot):
    """The final snapshot of each protocol against DuckDB's union of the
    ingested batches (rows as multisets)."""
    con = duckdb.connect()
    exp = (f"SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars "
           f"FROM read_parquet('{data}/documents.parquet/*.parquet') d "
           f"JOIN read_parquet('{data}/doc_slots.parquet/*.parquet') s USING (doc_id) "
           f"WHERE s.slot <= {last_slot}")
    failures = {}
    for proto in ("snapshots", "cas"):
        got = (f"SELECT doc_id, text, lang, source, n_chars "
               f"FROM read_parquet('{verify}/{proto}_final/*.parquet')")
        n = con.execute(f"SELECT (SELECT count(*) FROM ({exp} EXCEPT ALL {got})) + "
                        f"(SELECT count(*) FROM ({got} EXCEPT ALL {exp}))").fetchone()[0]
        if n:
            failures[f"{proto}_append"] = f"{n} rows differ from the ingested batches"
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("src/main/scala/graft", "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")

    cp = classpath()
    cores = os.cpu_count()
    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        t0 = time.perf_counter()
        tables = gen.generate(data, a.seed, files=cores, **SCALE[a.workload])
        if a.workload == "maintain":
            gen.stage_batches(data, a.seed, BASE_SLOTS)
        gen_s = time.perf_counter() - t0

        out = os.path.join(work, "result.json")
        os.makedirs(os.path.join(work, "tmp"))
        # a fixed heap and young generation, so peak RSS follows what the
        # run keeps live rather than how far the heap happened to grow
        cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
        for p in JDK17_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Harness", a.workload, data, work, str(a.seconds),
                str(a.trace), out]
        with open(os.path.join(work, "harness.log"), "w") as log:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=HARNESS_TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(out):
            with open(os.path.join(work, "harness.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"harness exited with {r.returncode}")
        with open(out) as fh:
            res = json.load(fh)
        verify = os.path.join(work, "verify")
        report(a, res, tables, gen_s, cores, data, verify)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, res, tables, gen_s, cores, data, verify):
    """Checks the outputs and prints the detail line and the result line.
    A unit is what `attempted` counts: a `batch` op (one entry
    execution) or a `maintain` pass (one daily batch)."""
    timed = [o for o in res["ops"] if o["timed"]]
    # failures[op]: every timed execution of op fails; pass_failures[p]:
    # the ops of pass p fail
    failures, pass_failures = {}, {}
    if a.workload == "maintain":
        m = res["maintain"]
        failures = snapshot_failures(data, verify, m["last_slot"])
        for key, op in (("index_mismatch_rows", "stream_trigger"),
                        ("sketch_mismatch_rows", "sketch_append")):
            if m[key]:
                failures[op] = f"{m[key]} rows differ from a full rebuild"
        for f in m["feed_failures"]:
            pass_failures.setdefault(f["pass"], []).append(f["msg"])
    else:
        failures = oracle_failures(data, verify, res["verified"])
    for op, counts in res.get("count_mismatches", {}).items():
        failures[op] = f"(jobs, tasks, files written) differ across traced passes: {counts}"
    warm = [o for o in res["ops"] if not o["timed"]]
    failures.update({o["op"]: o["error"] for o in warm if o["error"]})
    if any(o["pass"] in pass_failures for o in warm):  # a warm-up batch feeds every later one
        failures.update({o["op"]: "failed in the warm-up pass" for o in warm})
    bad = {id(o) for o in timed
           if o["error"] or o["op"] in failures or o["pass"] in pass_failures}
    units = ([[o for o in timed if o["pass"] == p] for p in sorted({o["pass"] for o in timed})]
             if a.workload == "maintain" else [[o] for o in timed])
    failed = sum(1 for u in units if any(id(o) in bad for o in u))
    attempted = max(1, len(units))
    errors = [o for o in timed if o["error"]]

    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cores, "calib_first_s": res["calib_first_s"], "calib_last_s": res["calib_last_s"],
        "tables": tables, "layout": f"<table>.parquet/part-*.parquet, {cores} equal files "
                                    f"for tables of >= {gen.MULTI_FILE_ROWS} rows, one row group each",
        "setup": {"gen_s": gen_s, "session_s": res["session_s"], "prepare_s": res["prepare_s"],
                  "warmup_s": res["warmup_s"]},
        "fail_frac": failed / attempted, "failures": failures, "pass_failures": pass_failures,
        "errors": sorted({o["error"][:200] for o in errors}),
    }
    if a.trace:
        metrics = dict(res["layers"])
        if a.workload == "maintain":
            m = res["maintain"]
            metrics["sources.plancache_hit_ratio"] = \
                m["plancache_hits"] / max(1, m["plancache_hits"] + m["plancache_misses"])
        else:
            metrics["sources.plancache_hit_ratio"] = 0.0
        units = {}
        for k in metrics:
            units[k] = ("s" if k.endswith("_s") else "B" if "bytes" in k
                        else "ratio" if k.endswith(("_ratio", "_frac", "core_use", "cpu_per_run"))
                        else "count")
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())}
        spans_file = os.path.join(BUILD, "spans", f"{a.workload}-{a.seed}.json")
        os.makedirs(os.path.dirname(spans_file), exist_ok=True)
        with open(spans_file, "w") as fh:
            json.dump(res["spans"], fh)
        detail["spans_file"] = os.path.relpath(spans_file, ROOT)
    else:
        out_metrics, extra = end_to_end(a.workload, res, tables, units, bad, gen_s)
        detail.update(extra)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


def end_to_end(workload, res, tables, units, bad, gen_s):
    """Latency of a unit (one entry execution, or one daily batch of
    `maintain`: its ingest, query and compact calls back to back) over the
    units that passed every check."""
    setup_s = gen_s + res["session_s"] + res["prepare_s"] + res["warmup_s"]
    ok = [u for u in units if not any(id(o) in bad for o in u)] or units
    lat = [sum(o["wall_s"] for o in u) for u in ok]
    extra = {}
    if workload == "maintain":
        for ph in ("ingest", "query", "compact"):
            xs = [sum(o["wall_s"] for o in u if o["phase"] == ph) for u in ok]
            v, pct, n = tail(xs)
            extra[f"{ph}_p50_s"] = statistics.median(xs)
            extra[f"{ph}_tail_s"] = {"value": v, "percentile": pct, "samples": n}
        # slots are equal: a batch ingests 1% of the documents and vectors
        docs, vecs = tables["documents"], tables["embeddings"]
        rows = len(ok) * (docs["rows"] + vecs["rows"]) / 100
        m = res["maintain"]
        extra["space_amp"] = m["artifact_bytes"] / (
            docs["bytes"] * m["ingested_docs"] / docs["rows"] +
            vecs["bytes"] * m["ingested_vecs"] / vecs["rows"])
        extra["maintain"] = m
    else:
        rows_of = {k: sum(tables[t]["rows"] for t in v) for k, v in res["inputs"].items()}
        rows = sum(rows_of.get(u[0]["op"], 0) for u in ok)
        extra["op_inputs"] = res["inputs"]
    v, pct, n = tail(lat)
    extra["op_tail"] = {"value": v, "percentile": pct, "samples": n}
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows / sum(lat), "rows/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (v, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    return {k: {"value": x, "unit": u} for k, (x, u) in metrics.items()}, extra


if __name__ == "__main__":
    main()
