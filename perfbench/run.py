"""Engine benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload daily_merge --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. The run generates its
inputs from ``--seed`` into a per-run directory under
``.perfbench_tmp/`` (removed afterwards), starts ``engine.py`` in a
fresh process with a clean environment, times a fixed number of
operations worth about ``--seconds`` seconds, checks every operation's
output, and prints one line per metric followed by a JSON result as the
last line.

Timings are reported at the reference host's speed: each run times two
host canaries between operations and scales by them (``host_speed``;
the summary lines also print the measured values as ``raw=``).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload twice, untraced and then traced (spans plus the Spark event
log), and reports the per-layer metrics and the tracing overhead; the
spans are written to ``.perfbench_out/<workload>-<seed>-spans.json``.

Exit status: 0 when every check passed, 1 when a check failed or the
engine process failed, 2 when the engine is not in the working
directory or the arguments are wrong.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
from tracing import OVERHEAD, RATIOS, per_layer_names  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: program files the benchmark drives; without them there is nothing
#: to measure
REQUIRED = ["etl_spark_spark/__init__.py", "__spark_entry__.py", "tests/oracle_utils.py"]
#: all engine processes of one run end within this many seconds
RUN_TIMEOUT_S = 170
#: local[2]: operations at these scales are bound by driver planning
#: and scheduling, not task parallelism; two free cores keep JIT and GC
#: threads off the tasks' cores
MAX_CORES = 2
#: geometric mean of the two host canaries on the reference host (a
#: 4-vCPU x86 VM in its fast phase); timings are reported at that speed
REF_CANARY_S = 0.011

E2E_UNITS = {
    "setup_s": "s",
    "op_s.p50": "s",
    "op_s.tail": "s",
    "input_rows_per_s": "rows/s",
    "stored_bytes_per_live_byte": "ratio",
}

_STAT_UNITS = {
    "shuffle_mb": "MB", "spill_mb": "MB", "input_records": "count",
    "output_records": "count", "n_tasks": "count", "task_skew": "ratio",
}


def _layer_unit(name: str) -> str:
    if name in RATIOS:
        return "ratio"
    if name == "peak_rss_mb":
        return "MB"
    if name in OVERHEAD:
        return "s"
    return _STAT_UNITS.get(name.rsplit(".", 1)[1], "s")


def _clean_env(root: str, tmp: str) -> dict[str, str]:
    """The environment both parent and change are measured in: the
    engine importable by Spark's Python workers, no plan-shaping
    ``SPARK_GRAFT_*`` overrides, temp files inside the run directory."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["PYTHONPATH"] = root
    env["TMPDIR"] = tmp
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["PYTHONHASHSEED"] = "0"
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _kill_group(pgid: int) -> None:
    """Stop whatever is left of the engine's process group (driver JVM,
    Python workers): SIGTERM, up to 10 s to exit, then SIGKILL; return
    once the group is gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + grace
        while time.time() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def _run_engine(cfg: dict, env: dict, log_path: str, deadline: float) -> dict | None:
    cfg_path = cfg["result"] + ".cfg.json"
    with open(log_path, "ab") as log:
        cfg["spawn_time"] = time.time()
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), cfg_path],
            cwd=cfg["root"], env=env, stdout=log, stderr=log,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _kill_group(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(cfg["result"]):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        print(f"engine process failed (exit {rc}):\n{tail}", file=sys.stderr)
        return None
    with open(cfg["result"]) as f:
        return json.load(f)


def host_speed(res: dict) -> float:
    """How much faster the host ran than the reference host during the
    run: ``REF_CANARY_S`` over the geometric mean of the two canaries'
    medians (``engine.host_canary``)."""
    py = stats.median([c[0] for c in res["canary"]])
    jvm = stats.median([c[1] for c in res["canary"]])
    return REF_CANARY_S / math.sqrt(py * jvm)


def _e2e(res: dict) -> tuple[dict[str, float], dict[str, float], dict]:
    """End-to-end metrics at reference host speed, the same as measured,
    and run facts (sample count, tail percentile, failures, memory)."""
    lat = res["lat"]
    tail, pct = stats.tail(lat)
    raw = {
        "setup_s": res["setup_s"],
        "op_s.p50": stats.median(lat),
        "op_s.tail": tail,
        "input_rows_per_s": sum(res["rows"]) / sum(lat),
        "stored_bytes_per_live_byte": res["stored_bytes_per_live_byte"],
    }
    speed = host_speed(res)
    metrics = {n: v * speed if E2E_UNITS[n] == "s" else v for n, v in raw.items()}
    metrics["input_rows_per_s"] = raw["input_rows_per_s"] / speed
    info = {"samples": len(lat), "tail_percentile": round(pct, 2),
            "failed_ops_frac": len(res["errors"]) / len(lat),
            "peak_rss_mb": res["peak_rss_mb"], "host_speed": speed}
    return metrics, raw, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through the finally blocks below, which stop the
    # engine's process group and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"no engine to measure here: missing {missing}", file=sys.stderr)
        return 2

    deadline = time.time() + RUN_TIMEOUT_S
    wl = WORKLOADS[args.workload]
    tmp = os.path.join(root, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "tmp"))
    try:
        inputs = os.path.join(tmp, "inputs")
        manifest = gen.generate(inputs, args.seed, wl.sf)
        manifest["doc_base"] = manifest["doc_base"].tolist()
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        env = _clean_env(root, os.path.join(tmp, "tmp"))
        cores = min(MAX_CORES, os.cpu_count() or 1)
        results = []
        for traced in ([False, True] if args.trace else [False]):
            work = os.path.join(tmp, "traced" if traced else "untraced")
            os.makedirs(os.path.join(work, "tmp"))
            cfg = {
                "root": root, "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "traced": traced, "cores": cores,
                "inputs": inputs, "manifest": os.path.join(tmp, "manifest.json"),
                "work": work, "result": os.path.join(work, "result.json"),
            }
            res = _run_engine(cfg, env, os.path.join(tmp, "engine.log"), deadline)
            if res is None:
                return 1
            results.append(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".perfbench_tmp"))
        except OSError:
            pass  # another run is still using it

    errors = [e for r in results for e in r["errors"]]
    attempted = sum(len(r["lat"]) for r in results)
    base, raw, info = _e2e(results[0])
    print(f"# workload {args.workload} seed {args.seed}: cores={results[0]['cores']} "
          f"samples={info['samples']} tail=p{info['tail_percentile']} "
          f"host_speed={info['host_speed']:.4f} (timings below are at reference "
          f"host speed; raw= as measured)")
    if args.trace:
        traced_res = results[1]
        metrics = dict(traced_res["per_layer"])
        metrics.update(traced_res.get("ratios") or {})
        traced_p50 = _e2e(traced_res)[0]["op_s.p50"]
        metrics["trace.op_s.p50_overhead"] = traced_p50 - base["op_s.p50"]
        print(f"# tracing overhead: op_s.p50 traced {traced_p50:.6g} s, "
              f"untraced {base['op_s.p50']:.6g} s")
        metrics["peak_rss_mb"] = info["peak_rss_mb"]
        names = per_layer_names()
        out = {n: {"value": float(metrics.get(n, 0.0)), "unit": _layer_unit(n)} for n in names}
        os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
        with open(os.path.join(root, ".perfbench_out",
                               f"{args.workload}-{args.seed}-spans.json"), "w") as f:
            json.dump({"spans": traced_res["spans"], "per_layer": out}, f)
    else:
        out = {n: {"value": float(v), "unit": E2E_UNITS[n]} for n, v in base.items()}
    for n, m in out.items():
        extra = f" raw={raw[n]:.6g}" if n in raw else ""
        print(f"{n:48s} {m['value']:>16.6g} {m['unit']:8s} n={info['samples']}{extra}")
    print(f"{'failed_ops_frac':48s} {len(errors) / attempted:>16.6g} {'ratio':8s} "
          f"n={attempted}")
    if not args.trace:
        print(f"{'peak_rss_mb':48s} {info['peak_rss_mb']:>16.6g} {'MB':8s} "
              f"n={info['samples']}")
    print("# spark_conf " + json.dumps(results[0]["spark_conf"], sort_keys=True))
    for e in errors:
        print("# FAILED " + e.replace("\n", " | "), file=sys.stderr)
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(errors), "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
