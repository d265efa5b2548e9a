#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into $CARGO_TARGET_DIR, default
.bench_build); later runs reuse the build while the sources are
unchanged. Inputs are generated from --seed, one new JVM sets up cold
and then measures the workload at local[<cores>], outputs are checked, and the last line of stdout is one
JSON object with correct/attempted/failed/metrics. --trace 1 attaches
Spark's listeners and the benchmark's spans and reports per-layer
metrics instead of end-to-end ones. Exits non-zero when a correctness
gate fails or the run cannot complete.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Registry queries of the query_floor mix: a fixed spread over the query
# families (top-k, core filter, join, window, aggregate, semi-structured,
# CDC history, curation), each among the cheapest of its family at
# sf0.001, so that the per-query floor dominates and a run fits enough
# queries for a tail. Every one has a DuckDB oracle. The seed orders
# them and generates the tables they read.
FLOOR_QUERIES = [
    "q_topk", "q_filter_events", "q_join_range", "q_running_sum", "q_percentiles",
    "q_json_extract", "q_scd2", "q_dedup_exact"]

BACKLOG_CHANGES = 40000        # envelopes per CDC backlog
BACKLOG_FILES = 48             # three triggers of 16 files: the median row sits mid-drain
JVM_ALLOWANCE_S = 120          # a JVM's start, set-up and checks, on top of its measuring

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources(root):
    """Every file the build reads, for the rebuild stamp."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(root, build_dir):
    """Compile with sbt unless the stamp says the sources are unchanged;
    return the runtime classpath."""
    h = hashlib.sha256()
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp, cp_file = os.path.join(build_dir, "stamp"), os.path.join(build_dir, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    log("[perfbench] building engine + harness with sbt")
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(build_dir, "sbt-target"))
    # the toolchain resolves offline from its pre-warmed caches
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    sys.stderr.write(p.stdout)
    lines = [x for x in p.stdout.splitlines() if x.strip() and not x.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit("[perfbench] build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return lines[-1].strip()


def make_inputs(workload, seed, work):
    import gen
    if workload == "query_floor":
        gen.make_tables(os.path.join(work, "data"), seed)
        mix = list(FLOOR_QUERIES)
        random.Random(seed).shuffle(mix)
        return ["--queries", ",".join(mix)]
    d = os.path.join(work, "backlog")
    rows, state = gen.make_backlog(d, seed, BACKLOG_CHANGES, BACKLOG_FILES)
    with open(os.path.join(d, "expected_rows.jsonl"), "w") as f:
        f.write("".join(r + "\n" for r in rows))
    with open(os.path.join(d, "expected_state.json"), "w") as f:
        json.dump(state, f)
    return []


def run_jvm(cmd, timeout, work, **env):
    """Run one JVM in the work directory, its output on stderr."""
    try:
        subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=timeout, cwd=work,
                       env=dict(os.environ, **env))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"[perfbench] {cmd[cmd.index('-cp') + 2]} did not finish within {timeout} s")


def oracle_gate(root, work, expected):
    """Compare every query's output against DuckDB with the engine's
    tools/check_oracle.py; all of them must pass."""
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                        os.path.join(work, "data"), os.path.join(work, "out")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    passed = [ln for ln in p.stdout.splitlines() if ln.startswith("[PASS]")]
    errors = [ln for ln in p.stdout.splitlines() if ln.startswith(("[FAIL]", "[INFO]"))]
    if p.returncode != 0:
        errors.append(f"check_oracle exited {p.returncode}: {p.stdout[-300:]}")
    if len(passed) != expected:
        errors.append(f"{len(passed)}/{expected} queries match their DuckDB oracle")
    return errors


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-post", type=int, default=0,
                    help="ingest_cdc: answer 500 to the k-th POST of the reported measurement")
    a = ap.parse_args()
    # a terminated run still stops its children: subprocess.run kills the
    # child when the wait is interrupted by an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    missing = [p for p in ("src/main/scala/graft", "tools/check_oracle.py", "BENCHMARK.json")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        raise SystemExit(f"[perfbench] not a checkout of the engine (missing {', '.join(missing)})")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"[perfbench] unknown workload {a.workload}")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)

    work = os.path.join(build_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    extra = make_inputs(a.workload, a.seed, work)
    cores = len(os.sched_getaffinity(0))
    java = ["java", *JVM_OPENS, "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp]
    args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cores", str(cores), "--fail-post", str(a.fail_post)] + extra
    # the set-up is cold: the JVM is new, so no JIT, loaded class or
    # static cache carries over from an earlier run
    result_file = os.path.join(work, "result.json")
    run_jvm(java + ["perfbench.Main", *args, "--result", result_file],
            JVM_ALLOWANCE_S + a.seconds * (4 if a.trace else 1), work)
    if not os.path.exists(result_file):
        raise SystemExit("[perfbench] JVM wrote no result")
    res = json.load(open(result_file))

    errors = list(res["errors"])
    if a.workload == "query_floor":
        mix = extra[1]
        # the engine's own dump of each query's result and DuckDB oracle
        run_jvm(java + ["graft.Verify", os.path.join(work, "data"), os.path.join(work, "out")],
                JVM_ALLOWANCE_S, work, SPARK_GRAFT_ONLY=mix, SPARK_GRAFT_CPUS=str(cores))
        errors += oracle_gate(root, work, len(mix.split(",")))
    if a.trace:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}.jsonl"))

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            errors.append(f"metric {m['name']} not measured")
        elif got["unit"] != m["unit"]:
            errors.append(f"metric {m['name']} in {got['unit']}, expected {m['unit']}")
        else:
            metrics[m["name"]] = got
    for line in res["report"]:
        print(f"[perfbench] {line}")
    for k, v in res["metrics"].items():
        print(f"[perfbench] {k} = {v['value']:.6g} {v['unit']}")
    for e in errors:
        print(f"[perfbench] FAILED: {e}")
    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
