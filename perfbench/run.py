"""Pipeline benchmark: one seeded ETL workload, timed from the call that
builds each query's DataFrame until its result is committed as Parquet,
checked against the query's DuckDB oracle, in a fresh process on at
most 4 local cores.

    python3 perfbench/run.py --workload reference_etl --seed 1 \\
        --seconds 30 --trace 0

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; a human
report goes to stderr.

- ``--trace 0``: end-to-end metrics. ``setup_s`` is the measured
  process's own set-up (package import + get_spark + one trivial
  action), wall clock. ``cold_pass_cpu_s`` is the CPU time (user +
  system) of the Python process, its JVM and every process under it
  during the first pass through the workload's query list;
  ``warm_pass_cpu_s`` the median of the same over the later passes (at
  least one, and more while the passes so far add up to less than
  ``--seconds`` of wall clock). ``peak_rss_mb`` is the peak summed
  VmHWM of those processes. The passes' wall-clock times go to the
  human report: on a virtual machine whose neighbours take its CPUs
  (steal), they spread by a quarter and more from run to run, while
  the CPU times stay within a few per cent.
- ``--trace 1``: per-layer metrics (layers.py), totals per pass, the
  median over the traced warm passes, and the tracing overhead (the
  traced warm pass minus the median of the untraced ones around it).

The driver JVM gets a fixed 2 GiB heap (initial = maximum), so heap
resizing does not vary from run to run.

Inputs and oracle digests are made once per (workload, seed) under
``.perfbench/`` and never timed. Every process started here runs in a
session of its own and is stopped, by session id, before exit, also
on failure, timeout and SIGINT.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "biodiversity_data_ingestion_spark"
CORES = 4
HEAP = "2g"  # driver JVM heap, initial = maximum
QUERY_TIMEOUT_S = 90.0
RUN_LIMIT_S = 170.0  # the whole command must end within 180 s
KEEP_INPUTS = 6  # cached (workload, seed) inputs kept


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _interrupt(signum, frame):
    raise KeyboardInterrupt(f"signal {signum}")


def _inputs(workload: str, wl, seed: int) -> tuple[str, dict]:
    """Generate (once) the seeded input and its oracle digests."""
    import duckdb
    from inputs import DATA, SCALER, TABLES, generate
    from oracle import oracle_digests

    from biodiversity_data_ingestion_spark.plans.queries import QUERIES

    oracles = {q: QUERIES[q]["oracle"] for q in wl.queries}
    # the cache key covers everything the inputs and digests derive
    # from: the generator and its base data, the oracle SQL, the
    # digest rule, the oracle connection's settings and DuckDB itself
    key = hashlib.sha256(json.dumps([wl.copies, oracles, duckdb.__version__]).encode())
    sources = [os.path.join(HERE, "inputs.py"), os.path.join(HERE, "oracle.py"), SCALER,
               os.path.join(ROOT, "tests", "oracle_harness.py")]
    sources += [os.path.join(DATA, f"{t}.parquet") for t in TABLES]
    for name in sources:
        with open(name, "rb") as fh:
            key.update(fh.read())
    base = os.path.join(WORK, "inputs")
    path = os.path.join(base, f"{workload}-s{seed}-{key.hexdigest()[:12]}")
    meta = os.path.join(path, "oracle.json")
    if not os.path.exists(meta):
        shutil.rmtree(path, ignore_errors=True)
        counts = generate(path, wl.copies, seed)
        digests = oracle_digests(path, oracles)
        with open(meta + ".tmp", "w") as fh:
            json.dump({"rows": counts, "oracle": digests}, fh)
        os.replace(meta + ".tmp", meta)
        kept = sorted(
            (os.path.join(base, d) for d in os.listdir(base)),
            key=os.path.getmtime, reverse=True,
        )
        for old in kept[KEEP_INPUTS:]:
            shutil.rmtree(old, ignore_errors=True)
    with open(meta) as fh:
        return path, json.load(fh)


def _worker_env(tmp: str) -> dict:
    env = dict(
        os.environ,
        # Python workers must import the package from the repo root
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # keep the JVM's temp files (and no perf-data file) in the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a fixed driver heap: no heap resizing from run to run
        SPARK_DRIVER_MEM=HEAP,
        SPARK_SUBMIT_OPTS=f"-Xms{HEAP}",
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    return env


def _host_load() -> str:
    """Load average and, where the kernel reports it, the share of time
    some runnable task waited for a CPU (PSI, avg over 10/60/300 s)."""
    load = ", ".join(f"{x:.2f}" for x in os.getloadavg())
    try:
        with open("/proc/pressure/cpu") as fh:
            some = fh.readline().split()[1:4]
    except OSError:
        return f"load average {load}"
    return f"load average {load}, cpu pressure {' '.join(some)}"


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _read_events(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.endswith("\n")]


def _wait(worker, events_path: str, limit_at: float) -> str | None:
    """Wait for the worker to exit. Returns why it has to be stopped
    (a query over its timeout, or the run at its time limit), or None."""
    while worker.proc.poll() is None:
        now = time.time()
        open_query = None
        for ev in _read_events(events_path):
            if ev["event"] == "start":
                open_query = ev
            elif ev["event"] == "end":
                open_query = None
        if open_query and now - open_query["t"] > QUERY_TIMEOUT_S:
            return f"timeout: {open_query['query']} ran over {QUERY_TIMEOUT_S:.0f} s"
        if now > limit_at:
            return "timeout: the run reached its time limit"
        time.sleep(0.2)
    return None


def _stop(worker) -> None:
    left = worker.stop()
    if left:
        raise RuntimeError(f"processes {sorted(left)} survived SIGKILL")


def _tail_pct(samples: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples beyond it."""
    for p in (99, 95, 90, 75, 50):
        if len(samples) * (1 - p / 100) >= 10:
            return f"p{p}", statistics.quantiles(samples, n=100, method="inclusive")[p - 1]
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program is built from this checkout; without it there is
    # nothing to measure
    sys.path[:0] = [HERE, ROOT]
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or importlib.util.find_spec(PACKAGE) is None:
        _log(f"perfbench: package {PACKAGE} not found under {ROOT}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]

    for sig in (signal.SIGINT, signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _interrupt)
    from procs import become_subreaper

    become_subreaper()
    t_begin = time.time()
    load_start, ticks_start = _host_load(), _cpu_ticks()
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    worker = None
    try:
        data_dir, meta = _inputs(args.workload, wl, args.seed)
        empty = [q for q, d in meta["oracle"].items() if d["rows"] == 0]
        limit_at = t_begin + RUN_LIMIT_S
        out_dir = os.path.join(run_dir, "out")
        events_path = os.path.join(run_dir, "worker.jsonl")
        log_path = os.path.join(run_dir, "worker.log")
        cfg_path = os.path.join(run_dir, "worker.json")
        with open(cfg_path, "w") as fh:
            json.dump({
                "queries": list(wl.queries), "data_dir": data_dir, "out_dir": out_dir,
                "seconds": args.seconds, "trace": args.trace, "stop_by": limit_at - 20.0,
                "parent": os.getpid(), "events": events_path,
            }, fh)
        from procs import Child

        worker = Child([sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                       log_path, _worker_env(os.path.join(run_dir, "tmp")), ROOT)
        stopped = _wait(worker, events_path, limit_at)
        _stop(worker)
        if worker.proc.returncode != 0 and not stopped:
            stopped = f"worker exited with code {worker.proc.returncode}"
        return _report(args, wl, meta, _read_events(events_path), stopped, empty,
                       out_dir, load_start, ticks_start, log_path)
    except KeyboardInterrupt:
        _log("perfbench: interrupted; stopping every process of the run")
        return 130
    finally:
        for sig in (signal.SIGINT, signal.SIGTERM, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        if worker is not None:
            _stop(worker)
        shutil.rmtree(run_dir, ignore_errors=True)


def _report(args, wl, meta, events, stopped, empty, out_dir,
            load_start, ticks_start, log_path) -> int:
    from oracle import mismatch, output_digest

    setups = [e for e in events if e["event"] == "setup"]
    ends = [e for e in events if e["event"] == "end"]
    passes = [e for e in events if e["event"] == "pass"]
    failures: list[tuple[int, str, str]] = []
    for e in ends:
        why = e["error"]
        if why is None:
            try:
                got = output_digest(os.path.join(out_dir, f"p{e['pass_']}", e["query"]))
                why = mismatch(meta["oracle"][e["query"]], got)
            except Exception as exc:  # an unreadable output is a failed check
                why = f"output unreadable: {exc}"
        if why:
            failures.append((e["pass_"], e["query"], why))
    started = [e for e in events if e["event"] == "start"]
    attempted = len(started)
    if len(started) > len(ends):  # killed mid-query
        last = started[-1]
        failures.append((last["pass_"], last["query"], stopped or "did not finish"))
    correct = not failures and not empty and not stopped and len(passes) >= 2
    if stopped and not failures:
        _log(f"perfbench: {stopped}")

    cold = [p for p in passes if p["pass_"] == 0]
    warm = [p for p in passes if p["pass_"] > 0]
    untraced_warm = [p["s"] for p in warm if not p["traced"]]
    setup_s = [s["import_s"] + s["start_s"] for s in setups]
    calib = next((e for e in events if e["event"] == "calibration"), None)
    rss_ev = next((e for e in events if e["event"] == "rss"), {"peak_mb": 0.0, "parts": {}})
    rss = rss_ev["peak_mb"]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    if args.trace:
        from layers import METRICS

        units = {"s": "s", "mb": "MiB", "ms": "ms"}
        traced_warm = {p["pass_"] for p in warm if p["traced"]}
        per_pass: dict[int, dict[str, float]] = {}
        for e in ends:
            if "layers" in e and e["pass_"] in traced_warm:
                acc = per_pass.setdefault(e["pass_"], dict.fromkeys(METRICS, 0.0))
                for k, v in e["layers"].items():
                    if k == "streaming.batch_p50_ms":
                        continue
                    acc[k] += v
        for p, acc in per_pass.items():
            p50 = [e["layers"]["streaming.batch_p50_ms"] for e in ends
                   if e["pass_"] == p and e["layers"]["streaming.batches"]]
            acc["streaming.batch_p50_ms"] = med(p50)
        metrics = {}
        for k in METRICS:
            unit = units.get(k.rsplit("_", 1)[-1], "count")
            metrics[k] = {"value": med([acc[k] for acc in per_pass.values()]), "unit": unit}
        metrics["session.import_s"] = {"value": med([s["import_s"] for s in setups]), "unit": "s"}
        metrics["session.start_s"] = {"value": med([s["start_s"] for s in setups]), "unit": "s"}
        metrics["trace.overhead_s"] = {
            "value": med([p["s"] for p in warm if p["traced"]]) - med(untraced_warm),
            "unit": "s",
        }
    else:
        metrics = {
            "setup_s": {"value": med(setup_s), "unit": "s"},
            "cold_pass_cpu_s": {"value": med([p["cpu_s"] for p in cold]), "unit": "s"},
            "warm_pass_cpu_s": {"value": med([p["cpu_s"] for p in warm]), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MiB"},
        }

    # ---- human report (stderr) ----
    _log(f"== perfbench {args.workload} seed={args.seed} trace={args.trace} copies={wl.copies}")
    _log(f"input rows: {meta['rows']}")
    _log(f"setups (s): {[round(x, 3) for x in setup_s]}")
    _log(f"passes (s): cold {[round(p['s'], 3) for p in cold]} warm "
         f"{[(round(p['s'], 3), 'traced' if p['traced'] else 'untraced') for p in warm]}")
    _log(f"pass CPU time (s): cold {[round(p['cpu_s'], 2) for p in cold]} warm "
         f"{[round(p['cpu_s'], 2) for p in warm]}")
    per_query = [e["s"] for e in ends if e["pass_"] > 0]
    tail = _tail_pct(per_query)
    if tail:
        _log(f"per-query warm time: {tail[0]} {tail[1]:.3f} s over {len(per_query)} samples")
    else:
        _log(f"per-query warm time: max {max(per_query, default=0):.3f} s over "
             f"{len(per_query)} samples (too few for a tail percentile)")
    for q in wl.queries:
        c = [round(e["s"], 3) for e in ends if e["query"] == q and e["pass_"] == 0]
        w = [round(e["s"], 3) for e in ends if e["query"] == q and e["pass_"] > 0]
        _log(f"  {q:32s} cold {c} warm {w} rows {meta['oracle'][q]['rows']}")
    if empty:
        _log(f"EMPTY ORACLE (check proves nothing): {empty}")
    for p, q, why in failures:
        _log(f"FAILED pass {p} {q}: {why}")
    _log(f"peak RSS {rss:.1f} MiB: " + ", ".join(
        f"{k} {v:.1f}" for k, v in sorted(rss_ev["parts"].items())))
    _log(f"host load: start {load_start}; end {_host_load()}")
    ticks = [b - a for a, b in zip(ticks_start, _cpu_ticks())]
    # /proc/stat: user nice system idle iowait irq softirq steal ...
    _log(f"host CPU over the run: busy {1 - (ticks[3] + ticks[7]) / sum(ticks):.1%}, "
         f"steal {ticks[7] / sum(ticks):.1%} (time the hypervisor ran other guests)")
    if calib:
        _log(f"calibration probe (bench.py): {calib['s']:.3f} s, load {calib['load']}")
    if args.trace:
        lost = metrics["plans.lost_records"]["value"]
        if lost:
            _log(f"WARNING: {lost:.0f} store records were evicted before they were read")
        cold_layers = [e["layers"] for e in ends if e["pass_"] == 0 and "layers" in e]
        for k in ("pykernel.worker_start_s", "pykernel.worker_init_s", "pykernel.run_s",
                  "plans.jobs", "plans.build_s"):
            _log(f"  cold pass {k}: {sum(r[k] for r in cold_layers):.3f}")
    for k, v in metrics.items():
        _log(f"  {k} = {v['value']:.6g} {v['unit']}")
    if not correct:
        _log("worker log, last lines:")
        try:
            with open(log_path, errors="replace") as fh:
                _log("".join(fh.readlines()[-30:]))
        except OSError:
            pass

    print(json.dumps({
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": len(failures) + (0 if attempted else 1),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
