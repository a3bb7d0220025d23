#!/usr/bin/env python3
"""End-to-end benchmark of the graft CDC engine and its query suite.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine sources
together with the harness in ``e2ebench/`` (sbt, offline); later runs reuse
the build while the sources are unchanged. Each run then

1. generates its inputs from the seed (before any clock),
2. runs the harness JVM (``graftbench.Harness``), which drives the engine
   only through its public entry points and measures,
3. checks the outputs (CDC: final state and bulk replay against the
   generator's model; queries: each result against its DuckDB twin),
4. prints one JSON line: ``correct``, ``attempted``, ``failed``, ``metrics``.
   ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
   per-layer ones (a layer a workload does not use reports 0).

All files live under ``e2ebench/.work`` (inputs, engine state, results)
and ``e2ebench/.out`` (per-run host records and spans).
"""
import argparse
import glob
import gzip
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SLOTS = 2           # local[N]: two cores of four left to the driver, stream, JIT and GC threads
HEAP = "3g"         # fixed heap: -Xms = -Xmx
RUN_LIMIT_S = 170   # a run must end within 180 s

SIMILARITY = ["sim_pagerank_central", "sim_graph_topk2", "sql_recursive_cte"]
RELATIONAL = ["join_basket_affinity", "q18_large_orders", "q21_late_sole_supplier"]

# Fixed knobs per workload. read_capacity x trigger_ms / 1000 is the
# engine's per-trigger row cap (config `mongodbReadCapacity`). The query
# mix reads its TPC-H tables at tpch_sf, the rest at sf.
WORKLOADS = {
    "cdc_catchup": dict(trigger_ms=100, read_capacity=100_000, snapshot=10_000,
                        files=4, events_per_file=5_000),
    "query_mix": dict(sf=0.02, tpch_sf=0.05),
}
# inputs of the one throwaway engine lifecycle that warms the CDC session
WARM = dict(snapshot=2_000, files=2, events_per_file=5_000)
JAVA_OPTS = [
    "--add-opens", "java.base/java.lang=ALL-UNNAMED",
    "--add-opens", "java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens", "java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens", "java.base/java.io=ALL-UNNAMED",
    "--add-opens", "java.base/java.net=ALL-UNNAMED",
    "--add-opens", "java.base/java.nio=ALL-UNNAMED",
    "--add-opens", "java.base/java.util=ALL-UNNAMED",
    "--add-opens", "java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens", "java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens", "java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens", "java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens", "java.base/sun.util.calendar=ALL-UNNAMED",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build on first use (or when a source changed); returns the classpath."""
    stamp = source_stamp()
    cache = os.path.join(HERE, "target", "bench-classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the engine and the harness (sbt)")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                          capture_output=True, text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    cp = proc.stdout.strip().splitlines()[-1].strip()
    if "classes" not in cp.split(os.pathsep)[0]:
        fail(f"unexpected classpath line: {cp[:200]}")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# ------------------------------------------------------------------ inputs

def prepare(workload, seed, seconds, work):
    import gen
    k = WORKLOADS[workload]
    params = dict(workload=workload, seed=seed, seconds=seconds, work=work, slots=SLOTS)
    expected = {}
    if workload == "query_mix":
        tables = os.path.join(work, "tables")
        gen.query_tables(seed, tables, k["sf"], k["tpch_sf"])
        params.update(tables=tables, similarity=SIMILARITY, relational=RELATIONAL)
        return params, expected
    cap_rows = k["read_capacity"] * k["trigger_ms"] // 1000
    # a delete and a later update of the same key never share a trigger
    gap = cap_rows // k["events_per_file"] + 1
    cfg = os.path.join(work, "config.json")
    with open(cfg, "w") as f:
        json.dump(gen.config(k["trigger_ms"], k["read_capacity"]), f)
    data = os.path.join(work, "data")
    warm = os.path.join(work, "warm-data")
    gen.cdc_inputs(seed + 1_000_003, warm, WARM["snapshot"], WARM["files"],
                   WARM["events_per_file"], gap=WARM["files"] + 1)
    expected = gen.cdc_inputs(seed, data, k["snapshot"], k["files"], k["events_per_file"], gap)
    params.update(config=cfg, data=data, warm_data=warm, files=k["files"],
                  events=k["files"] * k["events_per_file"])
    return params, expected


# ------------------------------------------------------------------ checks

def replay_bulk(bulk_root):
    """Replay every bulk directory (scan first, then batches in order);
    the last action per id wins."""
    import gen
    dirs = sorted(glob.glob(os.path.join(bulk_root, "batch-*")),
                  key=lambda d: (not d.endswith("batch-scan"), d))
    state = {}
    for d in dirs:
        for part in sorted(glob.glob(os.path.join(d, "part-*.bulk*"))):
            opener = gzip.open if part.endswith(".gz") else open
            with opener(part, "rt") as f:
                lines = iter(f.read().splitlines())
            for meta in lines:
                action = json.loads(meta)
                if "delete" in action:
                    state.pop(action["delete"]["_id"], None)
                else:
                    state[action["index"]["_id"]] = json.loads(next(lines))
    return gen.state_digest(state.items())


def dumped_state(path):
    import gen
    with open(path) as f:
        return gen.state_digest((k, json.loads(d)) for k, d in map(json.loads, f))


def check_cdc(checks, expected):
    from gen import task_dir_name
    ok = True
    want = {"count": expected["count"], "hash": expected["hash"]}
    for c in checks:
        base = c["base"]
        got_state = dumped_state(os.path.join(base, "state.jsonl"))
        got_bulk = replay_bulk(os.path.join(base, "bulk", task_dir_name()))
        for what, got in (("state", got_state), ("bulk replay", got_bulk)):
            if got != want:
                ok = False
                log(f"{what} of {os.path.basename(base)} differs from the model: {got} vs {want}")
    return ok


def check_queries(oracle_dir, tables):
    """Each query result against its DuckDB twin, canonicalised like
    tools/check_oracle.py: columns sorted by name, floats at 6 places,
    rows in the dumped order. Returns the failed query names."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        cell = lambda v: f"{v:.6f}" if isinstance(v, float) else repr(v)
        return hashlib.md5("\n".join(",".join(cell(v) for v in row)
                                     for row in df.itertuples(index=False)).encode()).hexdigest()

    failed = []
    for name in SIMILARITY + RELATIONAL:
        try:
            files = sorted(glob.glob(os.path.join(oracle_dir, name, "*.parquet")))
            mine = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            ref = con.execute(oracle[name]).fetchdf()
            mine.columns = [c.lower() for c in mine.columns]
            ref.columns = [c.lower() for c in ref.columns]
            if len(mine) != len(ref) or sorted(mine.columns) != sorted(ref.columns) \
                    or canon(mine) != canon(ref):
                failed.append(name)
                log(f"{name}: result differs from its DuckDB twin ({len(mine)} vs {len(ref)} rows)")
        except Exception as e:  # a missing dump or twin is a failed query
            failed.append(name)
            log(f"{name}: {e}")
    return failed


# ------------------------------------------------------------------ main

def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_harness(cp, params, work, budget_s):
    path = os.path.join(work, "params.json")
    with open(path, "w") as f:
        json.dump(params, f)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *JAVA_OPTS,
           f"-Dgraft.index.dir={work}/index", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "graftbench.Harness", path]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "harness.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness {'timed out' if rc is None else f'exited with {rc}'}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ENGINE_SRC, "graft", "Main.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    bench = spec()
    sys.path.insert(0, HERE)
    cp = classpath()
    started = time.time()
    shutil.rmtree(os.path.join(HERE, ".work"), ignore_errors=True)
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    params, expected = prepare(a.workload, a.seed, a.seconds, work)
    params["trace"] = a.trace
    log(f"inputs ready in {time.time() - started:.1f} s")
    res = run_harness(cp, params, work, RUN_LIMIT_S - (time.time() - started))
    log(f"harness done at {time.time() - started:.1f} s")

    if a.workload == "query_mix":
        bad = check_queries(res["checks"][0]["oracle_dir"], params["tables"])
        correct = not bad
    else:
        bad = []
        correct = check_cdc(res["checks"], expected)
    log(f"checks done at {time.time() - started:.1f} s")
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(out_dir, f"host-{tag}.json"), "w") as f:
        json.dump({"host": res["host"], "notes": res["notes"], "e2e": res["e2e"]}, f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(out_dir, f"spans-{tag}.jsonl"))
    shutil.copy(os.path.join(work, "harness.log"), os.path.join(out_dir, f"harness-{tag}.log"))
    log(f"host {json.dumps(res['host'])} notes {json.dumps(res['notes'])}")
    shutil.rmtree(os.path.join(HERE, ".work"), ignore_errors=True)

    names = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = res["layers"] if a.trace else res["e2e"]
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print(json.dumps({"correct": bool(correct) and res["failed"] == 0 and not bad,
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]) + len(bad),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
