"""No process a benchmark run starts may outlive it."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import textwrap
import time

from conftest import BENCH, ROOT
from procs import _stat, stop_tree, tree

# A stand-in for the Spark process tree: a session leader whose child
# leaves the process group (as pyspark/daemon.py does with setpgid)
# and whose grandchild is orphaned when that child's parent exits.
_TREE = textwrap.dedent("""
    import os, sys, time
    if os.fork() == 0:
        os.setpgid(0, 0)
        if os.fork() == 0:
            if os.fork() == 0:
                time.sleep(600)
            os._exit(0)
        time.sleep(600)
    time.sleep(600)
""")


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[2] != "Z"


def test_stop_tree_reaches_regrouped_and_orphaned_processes():
    p = subprocess.Popen([sys.executable, "-c", _TREE], start_new_session=True)
    try:
        deadline = time.monotonic() + 10
        while len(tree(p.pid)) < 3 and time.monotonic() < deadline:
            time.sleep(0.05)
        members = tree(p.pid)
        assert len(members) == 3, members
        # one member left the process group, so killpg would miss it
        assert len({os.getpgid(m) for m in members}) == 2
        assert stop_tree(p.pid, grace_s=0.5) == set()
        assert not any(_alive(m) for m in members)
    finally:
        p.kill()
        p.wait(timeout=10)


# A session leader whose grandchild starts a session of its own and is
# orphaned when its parent exits: neither the session id nor a walk
# down from the leader finds it, only the subreaper it is reparented to.
_ESCAPE = textwrap.dedent("""
    import os, sys, time
    if os.fork() == 0:
        if os.fork() == 0:
            os.setsid()
            with open(sys.argv[1], "w") as fh:
                fh.write(str(os.getpid()))
            time.sleep(600)
        os._exit(0)
    time.sleep(600)
""")

# Stands in for run.py: a subreaper that starts _ESCAPE as a Child and
# stops it once the grandchild has been reparented to it.
_SUBREAPER = textwrap.dedent("""
    import json, os, sys, time
    sys.path.insert(0, sys.argv[1])
    from procs import Child, _stat, become_subreaper
    become_subreaper()
    pidfile = sys.argv[2]
    child = Child([sys.executable, "-c", sys.argv[3], pidfile],
                  os.devnull, dict(os.environ), os.getcwd())
    deadline = time.monotonic() + 10
    orphan, ppid = None, None
    while ppid != os.getpid() and time.monotonic() < deadline:
        time.sleep(0.05)
        if orphan is None and os.path.getsize(pidfile):
            orphan = int(open(pidfile).read())
        if orphan is not None:
            ppid = _stat(orphan)[0]
    left = child.stop()
    print(json.dumps({"orphan": orphan, "reparented": ppid == os.getpid(),
                      "left": sorted(left)}))
""")


def test_child_stop_reaches_orphan_with_its_own_session(tmp_path):
    pidfile = tmp_path / "orphan.pid"
    pidfile.write_text("")
    out = subprocess.run(
        [sys.executable, "-c", _SUBREAPER, BENCH, str(pidfile), _ESCAPE],
        capture_output=True, text=True, timeout=60, check=True,
    ).stdout
    res = json.loads(out.splitlines()[-1])
    try:
        assert res["reparented"], res
        assert res["left"] == []
        assert not _alive(res["orphan"])
    finally:
        if res["orphan"] and _alive(res["orphan"]):
            os.kill(res["orphan"], signal.SIGKILL)


def _snapshot(root: int) -> tuple[set[int], set[int], list[str]]:
    """Pids and session ids of everything below ``root``, and their
    command lines."""
    pids = tree(root)
    sids = {root}
    for p in list(pids):
        st = _stat(p)
        if st:
            sids.add(st[1])
    for s in list(sids):
        pids |= tree(s)
    cmds = []
    for p in pids:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                cmds.append(fh.read().replace(b"\0", b" ").decode(errors="replace"))
        except OSError:
            pass
    return pids, sids, cmds


def test_sigint_mid_query_leaves_no_process():
    run = subprocess.Popen(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         "llm_kernels_stream", "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    events = os.path.join(ROOT, ".perfbench", f"run-{run.pid}", "worker.jsonl")
    try:
        # wait until the second query runs: by then the JVM and the
        # Python worker daemon of the first one exist
        deadline = time.monotonic() + 150
        started = []
        while len(started) < 2:
            assert time.monotonic() < deadline, "no query started"
            assert run.poll() is None, "the run ended before it was interrupted"
            time.sleep(0.2)
            if os.path.exists(events):
                with open(events) as fh:
                    started = [json.loads(x) for x in fh
                               if x.endswith("\n") and '"start"' in x]
        time.sleep(0.5)
        pids, sids, cmds = _snapshot(run.pid)
        assert any("java" in c for c in cmds), cmds
        assert any("pyspark.daemon" in c for c in cmds), cmds
        run.send_signal(signal.SIGINT)
        out, _ = run.communicate(timeout=60)
    finally:
        if run.poll() is None:
            stop_tree(run.pid)
            run.wait(timeout=30)
    assert run.returncode == 130
    assert b"correct" not in out
    assert not [p for p in pids if _alive(p)]
    left = [p for s in sids for p in tree(s)]
    assert not left, left
