"""One fresh benchmark process: set up the package, run the workload's
passes and commit every result as Parquet.

Started by run.py with a JSON config path; writes one JSON event per
line to the config's ``events`` file. Timing per query runs from the
call that builds the DataFrame until ``DataFrame.write.parquet``
returns: queries that run jobs while building and lazy ones are billed
alike. The CPU time of this process and every process below it is read
at the start and end of each pass. Everything else (layer reads, RSS
samples, the calibration probe) happens outside the timed region.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import threading
import time

T_PROCESS = time.perf_counter()


class Events:
    def __init__(self, path: str):
        self._fh = open(path, "a", buffering=1)

    def emit(self, **rec) -> None:
        self._fh.write(json.dumps(rec) + "\n")
        self._fh.flush()


def _watch_parent(parent: int) -> None:
    """Leave, taking the session along, if run.py is gone: nothing of a
    benchmark may outlive it."""
    from procs import tree

    while os.getppid() == parent:
        time.sleep(1.0)
    for pid in tree(os.getsid(0)) - {os.getpid()}:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    os._exit(3)


class PeakRss:
    """Peak of the summed VmHWM of this process, the JVM it launched and
    every process below it, sampled between queries."""

    def __init__(self):
        self.mb = 0.0
        self.parts: dict[str, float] = {}

    def sample(self) -> None:
        from procs import tree, vmhwm_mb

        me = os.getpid()
        per_pid = vmhwm_mb(tree(me))
        total = sum(per_pid.values())
        if total > self.mb:
            self.mb = total
            self.parts = {}
            for pid, mb in per_pid.items():
                kind = "python" if pid == me else "jvm" if _is_java(pid) else "workers"
                self.parts[kind] = self.parts.get(kind, 0.0) + mb


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def main() -> int:
    cfg = json.load(open(sys.argv[1]))
    threading.Thread(target=_watch_parent, args=(cfg["parent"],), daemon=True).start()
    events = Events(cfg["events"])

    from biodiversity_data_ingestion_spark.plans.queries import QUERIES
    from biodiversity_data_ingestion_spark.session import get_spark

    t_import = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.range(1000).selectExpr("sum(id)").collect()
    t_start = time.perf_counter()
    events.emit(event="setup", import_s=t_import - T_PROCESS, start_s=t_start - t_import)

    spark.sparkContext.setLogLevel("ERROR")
    reader = None
    if cfg["trace"]:
        from layers import LayerReader

        reader = LayerReader(spark)
    rss = PeakRss()
    rss.sample()

    from procs import cpu_s, tree

    def run_pass(index: int, traced: bool) -> float:
        total = 0.0
        cpu0 = cpu_s(tree(os.getpid()))
        for name in cfg["queries"]:
            out = os.path.join(cfg["out_dir"], f"p{index}", name)
            events.emit(event="start", pass_=index, query=name, t=time.time())
            if traced:
                reader.begin()
            error, build_s = None, 0.0
            t0 = time.perf_counter()
            try:
                df = QUERIES[name]["builder"](spark, cfg["data_dir"])
                build_s = time.perf_counter() - t0
                df.write.parquet(out)
            except Exception as e:  # a failed query is counted, the pass goes on
                error = f"{type(e).__name__}: {str(e)[:300]}"
            elapsed = time.perf_counter() - t0
            df = None
            total += elapsed
            rec = {"event": "end", "pass_": index, "query": name, "s": elapsed,
                   "build_s": build_s, "error": error, "traced": traced}
            if traced:
                rec["layers"] = reader.end(build_s)
            rss.sample()
            events.emit(**rec)
        events.emit(event="pass", pass_=index, s=total, traced=traced,
                    cpu_s=cpu_s(tree(os.getpid())) - cpu0)
        return total

    # the cold pass, then warm passes: at least one untraced one (and,
    # when tracing, a traced one after it and, time permitting, an
    # untraced one after that: the later passes are faster as the JIT
    # warms up, so the overhead is the traced pass minus the mean of
    # the untraced ones around it), and more while less than `seconds`
    # have been measured in all, unless the next one would cross
    # `stop_by`
    measured = [run_pass(0, bool(cfg["trace"]))]
    floor = 2 if cfg["trace"] else 1
    while len(measured) <= floor or (
        (sum(measured) < cfg["seconds"] or (cfg["trace"] and len(measured) == 3))
        and time.time() + 1.5 * measured[-1] < cfg["stop_by"]
    ):
        index = len(measured)
        measured.append(run_pass(index, bool(cfg["trace"]) and index % 2 == 0))

    from bench import _calibrate

    _calibrate(spark)  # as in bench.py: the first call absorbs codegen
    events.emit(event="calibration", s=_calibrate(spark), load=os.getloadavg())
    rss.sample()
    events.emit(event="rss", peak_mb=rss.mb, parts=rss.parts)
    spark.stop()
    # the JVM exits once its stdin closes; wait for it here so it is
    # never orphaned
    jvm = spark.sparkContext._gateway.proc
    jvm.stdin.close()
    jvm.wait(timeout=60)
    return 0


if __name__ == "__main__":
    sys.exit(main())
