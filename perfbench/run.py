"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload graph_serial --seed 1 --seconds 30 --trace 0

Builds the program from source (build.py), generates the workload's
inputs from the seed (gen.py), runs the JVM harness (perfbench.Main) for
the given seconds, checks every output (check.py), and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones.
Details (tail percentile, sample count, per-request parts, spans) go to
.bench_build/results/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["graph_serial", "graph_concurrent"]
JVM_BUDGET_S = 170

# Mirrors the javaOptions build.sbt gives the program's own mains.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_FLAGS = ([f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] +
             ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.sql.codegen.cache.maxEntries=8192", "-Xmx2g",
              # no hsperfdata file under the system temp directory
              "-XX:-UsePerfData"])


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, spec_path, out_path, log_path, tmp, budget):
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp),
           "perfbench.Main", str(spec_path), str(out_path)]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()
    try:
        cp = build.ensure()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = build.OUT / "run" / f"{tag}-{os.getpid()}"
    data, tmp = work / "data", work / "tmp"
    data.mkdir(parents=True)
    tmp.mkdir()
    try:
        warmup, requests, side, state = gen.gen_graph(a.seed, data, stream=WORKLOADS.index(a.workload),
                                                      mixed=a.workload == "graph_concurrent")
        spec = {"workload": a.workload, "data": str(data), "tmp": str(tmp), "cores": cores(),
                "clients": cores() if a.workload == "graph_concurrent" else 1,
                "trace": bool(a.trace), "seconds": a.seconds, "block": gen.TRACE_BLOCK,
                "warmup": warmup, "requests": requests, "side": side, "side_base": gen.SIDE_BASE}
        (work / "spec.json").write_text(json.dumps(spec))
        out, log = work / "out.json", work / "jvm.log"
        rc = run_jvm(cp, work / "spec.json", out, log, tmp,
                     JVM_BUDGET_S - (time.monotonic() - started))
        if rc != 0 or not out.is_file():
            tail = log.read_text()[-3000:] if log.is_file() else ""
            sys.exit(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}\n{tail}")
        raw = json.loads(out.read_text())
        def request_of(idx):
            return side[idx - gen.SIDE_BASE] if idx >= gen.SIDE_BASE else requests[idx % len(requests)]
        result, detail = reduce(a, raw, request_of, state)
        results = build.OUT / "results"
        results.mkdir(parents=True, exist_ok=True)
        (results / f"{tag}.json").write_text(json.dumps(detail, indent=1))
        if a.trace:
            (results / f"{tag}.spans.json").write_text(
                json.dumps(metrics.trace_spans(raw), separators=(",", ":")))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def reduce(a, raw, request_of, state):
    """Check every timed request, then compute the mode's metrics.

    `request_of(idx)` is the generated request a record's index names.
    """
    checker = check.Checker(state)
    records, failures = raw["requests"], []
    for r in records:
        if not r["error"]:
            r["error"] = checker.check(request_of(r["idx"]), r["digest"])
        if r["error"]:
            failures.append(f"#{r['idx']} {r['kind']}: {r['error']}")
    run_error = checker.finish()
    ok = [r for r in records if not r["error"]]
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "failures": failures[:20], "run_error": run_error}
    if a.trace:
        def nodes(r):
            args = request_of(r["idx"])["args"]
            return gen.count_nodes(json.loads(args["graph"])["process_graph"]) if "graph" in args else 0
        values, extra = metrics.per_layer(raw, records, nodes, rows_of)
        units = metrics.PER_LAYER_UNITS
    else:
        values, extra = metrics.end_to_end(raw, ok)
        units = metrics.E2E_UNITS
    detail.update(extra)
    detail["metrics"] = values
    detail["requests"] = [{k: r[k] for k in ("idx", "client", "kind", "key", "start", "end", "traced", "error")}
                          for r in records]
    failed = len(records) - len(ok)
    result = {"correct": failed == 0 and not run_error and len(records) > 0,
              "attempted": len(records), "failed": failed,
              "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    return result, detail


def rows_of(r):
    d = r["digest"] or {}
    if "bands" in d:
        return d["bands"] + d["shingles"] + d["docs"]
    if "rows" in d:
        return len(d["rows"])
    return d.get("n", 0)


if __name__ == "__main__":
    main()
