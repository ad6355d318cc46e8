"""Benchmark entry point: one workload, one JVM, one JSON result line.

Usage:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                           [--corrupt OUTPUT]

Steps: build the engine and the harness from source (`build.py`), generate
the seeded inputs (`gen.py`), run the workload in one `local[nproc]` JVM
(`scala/graft/perfbench`), check the kept outputs against the DuckDB oracle
(`gate.py`), then print a detail line (environment stamp, seed, input rows
and bytes per file, raw timings) and, last, the result line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
`--trace 0` reports the end-to-end metrics BENCHMARK.json names, `--trace 1`
its per-layer ones (the opt-in curation_build: those of `layers.json`). `--corrupt NAME` damages one kept output before the
gate (self-test only).

Exit codes: 0 with a result line; 2 when the build, the input generation
or the JVM fails (no result line).
"""
import argparse
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("warehouse_reports", "incremental_ingest", "curation_build")
HEAP = "2g"
# A benchmarked workload's run must end within three minutes; the opt-in
# curation_build needs several.
JVM_TIMEOUT_S = {"benchmarked": 165, "opt_in": 600}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def metric_defs(workload, trace):
    """(name, unit) of every metric a run reports: BENCHMARK.json's, or for
    an opt-in workload's traced run the per-layer list in layers.json."""
    with open(os.path.join(HERE, "layers.json")) as f:
        opt_in = json.load(f)["opt_in"]
    if trace and workload in opt_in:
        defs = opt_in[workload]["per_layer"]
    else:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            defs = json.load(f)["per_layer" if trace else "end_to_end"]
    return [(m["name"], m["unit"]) for m in defs]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classpath, args, work, deadline):
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
              "graft.perfbench.Harness"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {rc}:\n{tail}")


def quantile(xs, q):
    """Nearest-rank-interpolated quantile (the `statistics` inclusive method)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def end_to_end(res):
    """The user-visible metrics of one untraced run."""
    timed = [c["wall_s"] for c in res["calls"] if c["kind"] == "timed" and c["ok"]]
    return {
        "setup_s": sum(res["setup"].values()),
        "call_p50_s": quantile(timed, 0.5),
        "round_s": statistics.median(res["rounds"]),
        "write_amp": statistics.median(res["write_amps"]),
        "retained_heap_mb": res["retained_heap_mb"],
    }


def per_layer(res, fail_ratio):
    """Every per-layer metric; a layer the workload does not exercise reads 0."""
    timed = [c["wall_s"] for c in res["calls"] if c["kind"] == "timed" and c["ok"]]
    vals = dict(res["layers"], **{"gate.fail_ratio": fail_ratio,
                                  "jvm.peak_heap_mb": res["peak_heap_mb"],
                                  "call_p75_s": quantile(timed, 0.75)})
    if res["workload"] == "incremental_ingest":
        vals["ingest.batch_p90_s"] = quantile(res["rounds"], 0.9)
    return vals


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", default="")
    a = ap.parse_args(argv)
    start = time.time()
    load_start = loadavg()
    defs = metric_defs(a.workload, a.trace)
    timeout = JVM_TIMEOUT_S["opt_in" if a.workload == "curation_build" else "benchmarked"]
    deadline = start + timeout
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        try:
            classpath, digest = build.ensure_built(ROOT)
            if time.time() - start > 60:  # a fresh build: the JVM gets its own budget
                deadline = time.time() + timeout
            manifest = gen.generate(os.path.join(work, "data"), a.seed)
            cores = len(os.sched_getaffinity(0))
            run_jvm(classpath, ["--workload", a.workload, "--data", f"{work}/data",
                                "--work", work, "--seconds", str(a.seconds),
                                "--trace", str(a.trace), "--cores", str(cores),
                                "--seed", str(a.seed), "--out", f"{work}/result.json"],
                    work, deadline)
            with open(f"{work}/result.json") as f:
                res = json.load(f)
        except (build.BuildError, RuntimeError, OSError, ValueError) as e:
            print(f"benchmark failed: {e}", file=sys.stderr)
            return 2
        import gate
        if a.corrupt:
            corrupt(res, a.corrupt)
        wrong = gate.check(res["outputs"])
        failed_calls = [c for c in res["calls"] if not c["ok"]]
        attempted = len(res["calls"]) + len(res["outputs"])
        failed = len(failed_calls) + len(wrong)
        values = per_layer(res, failed / attempted) if a.trace else end_to_end(res)
        metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                   for name, unit in defs}
        detail = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "scale_factor": gen.SF,
            "env": {"git_commit": git_commit(), "source_digest": digest,
                    "nproc": cores, "heap_limit": HEAP,
                    "heap_max_mb": res["heap_max_mb"],
                    "spark_version": res["spark_version"],
                    "jvm_version": res["jvm_version"],
                    "loadavg_start": load_start, "loadavg_end": loadavg()},
            "inputs": {k: {"rows": v["rows"], "bytes": v["bytes"]}
                       for k, v in manifest["files"].items()},
            "setup": res["setup"], "rounds": res["rounds"],
            "measured_s": res["measured_s"], "calls": len(res["calls"]),
            "timed_calls": sum(c["kind"] == "timed" for c in res["calls"]),
            "failed_calls": [(c["name"], c.get("error", "")) for c in failed_calls],
            "wrong_outputs": wrong, "checked_outputs": [o["name"] for o in res["outputs"]],
        }
        print(json.dumps(detail))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def corrupt(res, name):
    """Self-test hook: flip one value of a kept output."""
    import glob
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    out = next(o for o in res["outputs"] if o["name"] == name)
    f = next(f for f in sorted(glob.glob(f"{out['path']}/*.parquet"))
             if pq.ParquetFile(f).metadata.num_rows > 0)
    t = pq.read_table(f)
    col = next(i for i, fld in enumerate(t.schema)
               if pa.types.is_integer(fld.type) or pa.types.is_floating(fld.type))
    vals = t.column(col)
    t = t.set_column(col, t.schema.field(col), pc.add(vals, pa.scalar(1, vals.type)))
    pq.write_table(t, f)


if __name__ == "__main__":
    sys.exit(main())
