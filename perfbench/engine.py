"""One benchmark process: Spark session, workload set-up, the timed
closed loop and the untimed checks. ``run.py`` starts it with a clean
environment and a JSON config path; it writes its raw results to the
path the config names.

    python3 perfbench/engine.py <config.json>
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))

#: every run times at least this many operations, so each reports a
#: median of more than one sample
MIN_OPS = 2
#: stop timing new operations after this long, whatever the count
MAX_LOOP_S = 80.0


class RssSampler:
    """Peak resident memory of this process's descendants (the driver
    JVM and Spark's Python workers), sampled from /proc while
    ``active``. This process itself is left out: besides the PySpark
    driver it hosts the benchmark's checks."""

    interval = 0.1

    def __init__(self):
        self.active = threading.Event()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_canary(jvm) -> tuple[float, float]:
    """Seconds taken by two fixed pieces of work that do not touch the
    engine: a pure-Python loop (the PySpark driver's interpreter) and a
    JDK BigInteger power in the driver JVM. The host's speed drifts by
    up to 2x over minutes; ``run.py`` scales timings by these so that
    runs made in a slow phase compare with runs made in a fast one."""
    t = time.perf_counter()
    s = 0
    for i in range(200_000):
        s += i * i % 7
    py = time.perf_counter() - t
    t = time.perf_counter()
    jvm.java.math.BigInteger.valueOf(3).pow(200_000).bitLength()
    return py, time.perf_counter() - t


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    root = cfg["root"]
    sys.path[:0] = [root, HERE, os.path.join(root, "tests")]

    from tracing import NullTracer, Tracer, parse_event_log, span_stats
    from workloads import WORKLOADS, Ctx

    traced = cfg["traced"]
    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(run_id) if traced else NullTracer()
    work = cfg["work"]
    conf = {
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.local.dir": f"{work}/spark-local",
        # no hsperfdata file under /tmp: the run writes only in its directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    with open(cfg["manifest"]) as f:
        manifest = json.load(f)
    rss = RssSampler()
    rss.start()

    from etl_spark_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", cpus=cfg["cores"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    if traced:
        tracer.spark_context = spark.sparkContext

    wl = WORKLOADS[cfg["workload"]]()
    ctx = Ctx(spark=spark, tracer=tracer, inputs=cfg["inputs"], work=work,
              seed=cfg["seed"], manifest=manifest)
    wl.setup(ctx)

    n_ops = max(MIN_OPS, wl.n_ops(cfg["seconds"]))
    canary: list[tuple[float, float]] = []
    t_first = time.time()
    lat: list[float] = []
    rows: list[int] = []
    errors: list[str] = []
    for i in range(n_ops):
        if time.time() - t_first > MAX_LOOP_S and i >= MIN_OPS:
            break
        for _ in range(3):  # untimed, between operations
            canary.append(host_canary(spark._jvm))
        rss.active.set()
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                out = wl.op(i)
        except Exception:  # an operation that raised counts as failed
            lat.append(time.perf_counter() - t0)
            rss.active.clear()
            errors.append(f"op {i}: {traceback.format_exc(limit=3)}")
            rows.append(0)
            continue
        lat.append(time.perf_counter() - t0)
        rss.active.clear()
        try:
            rows.append(wl.check(i, out))
        except Exception:  # a wrong result counts as failed
            errors.append(f"check {i}: {traceback.format_exc(limit=3)}")
            rows.append(0)
    extra = wl.finish()
    rss.stop()

    result = {
        "setup_s": t_first - cfg["spawn_time"],
        "lat": lat,
        "rows": rows,
        "errors": errors,
        "canary": canary,
        "peak_rss_mb": rss.peak_bytes / 1e6,
        "cores": cfg["cores"],
        "spark_conf": dict(
            sorted(spark.sparkContext.getConf().getAll())
        ),
        **extra,
    }
    spark.stop()
    if traced:
        logs = [os.path.join(f"{work}/eventlog", n) for n in os.listdir(f"{work}/eventlog")]
        with open(logs[0]) as f:
            jobs, tasks = parse_event_log(f)
        result["per_layer"] = span_stats(tracer.spans, jobs, tasks, run_id, cfg["cores"])
        result["spans"] = tracer.to_json()
    with open(cfg["result"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
