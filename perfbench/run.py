#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
this harness from source (sbt, offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Inputs are generated
from the seed (`gen.py`), the measurement runs in one JVM
(`scala/perfbench/BenchMain.scala`), every output is checked
(`check.py`), and the last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json, with `--trace 1` its per-layer metrics. The run context
(nproc, seed, git SHA, load average and steal seconds before and after)
is printed on the line before the result and stored, with the result, in
`.bench_build/results/runs.jsonl`; `compare.py` reads that file.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CPUS = 4
JVM_TIMEOUT_S = 165

# Input sizes per workload ("scale" multiplies the sf0.01 fixture row
# counts: lineitem 60k, orders 15k, ...) and the untimed warm units run
# between the cold unit and the timed window.
SIZES = {
    "etl_bulk": {"scale": 1.0, "docs": 100, "vecs": 100, "warmup": 2},
    "etl_many_small": {"scale": 0.6, "docs": 100, "vecs": 100, "warmup": 8,
                       "small_rows": 1000, "small_pool": 32},
    "sql_relational": {"scale": 1.0, "docs": 500, "vecs": 500, "warmup": 2, "queries": [
        "q01_scan_project", "q02_filter", "q04_join_inner", "q07_join_semi",
        "q11_agg_hash", "q14_window_rank", "q16_topk", "q18_scalar_subquery"]},
    "ops_expr": {"scale": 0.1, "docs": 1000, "vecs": 1000, "warmup": 12, "queries": [
        "q35_token_count", "q52b_pack_bpe",
        "q25_similarity_topk", "q100_pq_topk"]},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash() -> str:
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256(ROOT.encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    files += [os.path.join(d, "project", f) for d in (ROOT, HERE)
              for f in sorted(os.listdir(os.path.join(d, "project")))
              if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build() -> str:
    """Compile the program and the harness; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    key = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=840)
    lines = open(log).read().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(key)
    return cp


def inputs(workload: str, seed: int) -> str:
    """Generate (once per seed) the workload's inputs; returns their dir."""
    sys.path.insert(0, HERE)
    import gen
    d = os.path.join(BUILD, "data", f"{workload}-{seed}")
    if not os.path.exists(os.path.join(d, "counts.txt")):
        shutil.rmtree(d, ignore_errors=True)
        counts = gen.generate(workload, seed, d, SIZES[workload])
        with open(os.path.join(d, "counts.txt"), "w") as fh:
            fh.write("".join(f"{k}={v}\n" for k, v in counts.items()))
    return d


def git_sha() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def proc_context() -> dict:
    """Load average and cumulative steal seconds, read the way
    `BenchHarness.loadavg` and `BenchHarness.stealSeconds` read them.
    """
    try:
        load = " ".join(open("/proc/loadavg").read().split()[:3])
    except OSError:
        load = "unavailable"
    try:
        cpu = next(l for l in open("/proc/stat") if l.startswith("cpu ")).split()
        steal = int(cpu[8]) / 100.0
    except (OSError, StopIteration, IndexError, ValueError):
        steal = -1.0
    return {"loadavg": load, "steal_s": steal}


def percentile(xs: list, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-p * len(s) // 1)) - 1))]


def all_queries(workload: str) -> list:
    """Queries with a per-layer figure: those of the listed workloads,
    plus the current workload's own.
    """
    qs = [q for w in spec()["workloads"] for q in SIZES[w["name"]].get("queries", [])]
    return qs + [q for q in SIZES[workload].get("queries", []) if q not in qs]


def run_jvm(args, cp: str, data: str, work: str, raw: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    size = SIZES[args.workload]
    cmd = ["java", "-Xmx3g"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}/derby",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.BenchMain",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", raw,
            "--small_rows", str(size.get("small_rows", 0)),
            "--small_pool", str(size.get("small_pool", 0)),
            "--queries", ",".join(size.get("queries", [])),
            "--all_queries", ",".join(all_queries(args.workload)),
            "--warmup", str(size["warmup"])]
    log = os.path.join(BUILD, "logs", f"{args.workload}-{args.seed}-{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S}s, see {log}")
    if code != 0 or not os.path.exists(raw):
        fail(f"run failed (exit {code}), see {log}")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def metrics(r: dict, trace: int) -> dict:
    """Every metric BENCHMARK.json names (end-to-end, or per-layer when
    traced) with its unit, then any the workload adds: the per-query
    figures of a workload BENCHMARK.json does not list.
    """
    defs = spec()["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in defs}
    if trace:
        values = r["layers"]
    else:
        wall = statistics.median(r["unit_s"])
        values = {
            "setup_s": statistics.median(r["setup_s"]),
            "wall_s": wall,
            "rows_per_s": r["input_rows"] / wall,
            "latency_p50_s": statistics.median(r["op_s"]),
            "latency_p80_s": percentile(r["op_s"], 0.8),
        }
    names = list(units) + [k for k in values if k not in units]
    return {k: {"value": values[k], "unit": units.get(k, "s")} for k in names}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft/Main.scala",
                 "tools/compare_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    # one run at a time per checkout: runs share the build and work dirs
    lock = open(os.path.join(BUILD, "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    before = proc_context()
    cp = build()
    data = inputs(args.workload, args.seed)
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = os.path.join(work, "raw.json")
    run_jvm(args, cp, data, work, raw)
    r = json.load(open(raw))
    tables = os.path.join(data, "tables")
    tools = os.path.join(ROOT, "tools")
    check_dir = os.path.join(work, "check")
    sys.path.insert(0, HERE)
    import check
    errors = check.check(args.workload, check_dir, tables, tools,
                         SIZES[args.workload].get("small_rows", 0))
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    with open(os.path.join(work, "last.json"), "w") as fh:
        json.dump({"check": check_dir, "tables": tables, "tools": tools}, fh)
    result = {"correct": not errors and r["failed"] == 0, "attempted": r["attempted"],
              "failed": r["failed"], "metrics": metrics(r, args.trace)}
    context = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "seconds": args.seconds, "nproc": os.cpu_count(), "cpus": CPUS,
               "git_sha": git_sha(), "before": before, "after": proc_context(),
               "cold_run_s": r["cold_run_s"], "unit_s": r["unit_s"],
               "traced_unit_s": r["traced_unit_s"],
               "setups_s": r["setup_s"], "ops": len(r["op_s"])}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({"context": context, "result": result}) + "\n")
    print(json.dumps({"context": context}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
