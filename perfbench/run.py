#!/usr/bin/env python3
"""One benchmark run of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke [--seed <n>]

Builds the engine and the harness once (sbt, outside the timed region),
makes the seeded inputs (`gen.py`), then launches the harness with
plain `java` on the compiled classes, with the engine build's JVM
options and a fixed heap. After the session, input registration and a
small warm-up job, the harness runs whole timed passes over the
workload's queries, one query at a time, until `--seconds` have passed.
After the run every result of the final pass is compared with DuckDB
running `SparkEntry.oracleSql` on the same inputs (`tools/check.py`),
and the property checks below are applied.

The last line of standard output is one JSON object:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. `--smoke` runs every workload at the smallest scale, one pass,
with the checks on, and prints one such line per workload.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)
import gen  # noqa: E402

HEAP = "4g"
SMOKE_SCALE = 0.001
RUN_LIMIT_S = 170

# Pair outputs: (id column a, id column b, similarity column, threshold)
# as SparkEntry builds the query.
PAIRS = {"q_minhash_lsh": ("id_a", "id_b", "jaccard", 0.5)}

# Data micro-batches each replay contracts to run: 8 replayed files,
# maxFilesPerTrigger=1.
STREAM_BATCHES = {"q_stream_dedup": 8}

WORKLOADS = {
    "dedup_pairs": {
        "scale": 0.1,
        "tables": ["documents"],
        "queries": ["q_minhash_lsh"],
    },
    "stream_replay": {
        "scale": 0.1,
        "tables": ["events"],
        "queries": ["q_stream_dedup"],
    },
}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
# per-layer metrics that are a maximum over queries rather than a sum
PEAKS = {"exec.peak_exec_mem_mb", "stream.state_mem_mb"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def steal_s():
    """Host CPU time stolen from this machine's vCPUs since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- build

def _source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), HARNESS]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    files.append(os.path.join(HARNESS, "project", "build.properties"))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return (classpath, jvm options)."""
    spec = os.path.join(HARNESS, "target", "launch.txt")
    stamp = os.path.join(WORK, "build.hash")
    digest = _source_hash()
    if not (os.path.exists(spec) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        log("[perfbench] building engine and harness with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=HARNESS, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            raise SystemExit("[perfbench] build failed")
        os.makedirs(WORK, exist_ok=True)
        with open(stamp, "w") as f:
            f.write(digest)
    lines = open(spec).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


# ------------------------------------------------------------------ run

def run_harness(workload, tables, queries, data, seed, seconds, trace, deadline):
    """Run the harness in a freshly emptied run directory; return its
    output directory."""
    classpath, jvm_opts = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local, cwd, out = (os.path.join(run_dir, d) for d in ("tmp", "local", "cwd", "out"))
    for d in (tmp, local, cwd, out):
        os.makedirs(d)
    cmd = (["java"] + jvm_opts +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-cp", classpath, "perfbench.Harness",
            "--workload", workload, "--data", data, "--tables", ",".join(tables),
            "--queries", ",".join(queries), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--seed", str(seed),
            "--cores", str(cores()), "--out", out])
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "harness.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"[perfbench] harness exited with {rc}")
    return out


# --------------------------------------------------------------- checks

def oracle_check(data, out):
    """tools/check.py's DuckDB compare of every result the run wrote."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = check.main(data, os.path.join(out, "results"))
    return rc, buf.getvalue()


def pair_check(name, path):
    import pyarrow.parquet as pq
    a, b, sim, t = PAIRS[name]
    tbl = pq.read_table(path).to_pydict()
    bad = [i for i in range(len(tbl[a]))
           if not (tbl[a][i] < tbl[b][i] and tbl[sim][i] >= t)]
    return [] if not bad else [f"{name}: {len(bad)} pairs break {a} < {b} and {sim} >= {t}"]


def property_checks(result, out, smoke):
    problems = []
    for s in ok_samples(result):
        q, m = s["query"], s["m"]
        # the smallest fixture may hold no near-duplicate at all
        if m["entry.rows_out"] <= 0 and not smoke:
            problems.append(f"{q} pass {s['pass']}: no rows")
        if q in STREAM_BATCHES and m["stream.data_batches"] != STREAM_BATCHES[q]:
            problems.append(f"{q} pass {s['pass']}: {m['stream.data_batches']:.0f} "
                            f"micro-batches, contract {STREAM_BATCHES[q]}")
    for q in PAIRS:
        path = os.path.join(out, "results", q)
        if os.path.isdir(path):
            problems += pair_check(q, path)
    return problems


# -------------------------------------------------------------- metrics

def ok_samples(result):
    return [s for s in result["samples"] if not s["failed"]]


def per_query_median(samples, key):
    by_query = {}
    for s in samples:
        by_query.setdefault(s["query"], []).append(s["m"][key])
    return {q: statistics.median(v) for q, v in by_query.items()}


def metrics(result, trace, steal):
    """Every end-to-end metric (trace 0) or every per-layer metric
    (trace 1) of BENCHMARK.json, as {name: {"value", "unit"}}."""
    samples = ok_samples(result)

    def total(key):
        med = per_query_median(samples, key).values()
        return (max(med) if key in PEAKS else sum(med)) if med else 0.0

    triggers = [t for s in samples for t in s["triggers_ms"]]
    special = {
        "setup_s": result["setup_cpu_s"],
        "jvm.setup_wall_s": result["setup_wall_s"],
        "cpu_s": total("entry.cpu_s"),
        "jvm.peak_rss_mb": result["peak_rss_mb"],
        "graft.session_s": result["graft.session_s"],
        "graft.warmup_s": result["graft.warmup_s"],
        "stream.batch_p50_ms": statistics.median(triggers) if triggers else 0.0,
        "host.steal_s": steal,
    }
    special.update(result["kernels"])
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    return {m["name"]: {"value": special[m["name"]] if m["name"] in special else total(m["name"]),
                        "unit": m["unit"]}
            for m in spec}


def run_workload(name, seed, seconds, trace, smoke, deadline):
    wl = WORKLOADS[name]
    t0 = time.monotonic()
    data = gen.make(SMOKE_SCALE if smoke else wl["scale"], seed)
    t1 = time.monotonic()
    s0 = steal_s()
    out = run_harness(name, wl["tables"], wl["queries"], data, seed,
                      0 if smoke else seconds, trace, deadline)
    steal = steal_s() - s0
    t2 = time.monotonic()
    result = json.load(open(os.path.join(out, "result.json")))
    rc, report = oracle_check(data, out)
    problems = property_checks(result, out, smoke)
    log(f"[perfbench] {name}: inputs {t1 - t0:.1f}s, harness {t2 - t1:.1f}s, "
        f"checks {time.monotonic() - t2:.1f}s; set-up {result['setup_wall_s']:.2f}s wall, "
        f"{result['setup_cpu_s']:.2f}s CPU")
    if rc != 0:
        problems.append("oracle mismatch:\n" + report)
    for p in problems:
        log("[perfbench] CHECK FAILED:", p)
    if trace:
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(out, "spans.json"),
                    os.path.join(traces, f"{name}-seed{seed}-spans.json"))
    return {
        "correct": not problems,
        "attempted": len(result["samples"]),
        "failed": len(result["samples"]) - len(ok_samples(result)),
        "metrics": metrics(result, trace, steal),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    for f in ("src/main/scala/graft/SparkEntry.scala", "build.sbt",
              "tools/gen_sf.py", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, f)):
            raise SystemExit(f"[perfbench] {f} is missing: run from a full checkout")
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    build()
    for name in (sorted(WORKLOADS) if a.smoke else [a.workload]):
        deadline = time.monotonic() + RUN_LIMIT_S
        print(json.dumps(run_workload(name, a.seed, a.seconds, bool(a.trace),
                                      a.smoke, deadline)), flush=True)


if __name__ == "__main__":
    main()
