"""perfbench: end-to-end and per-layer benchmark of the registered queries.

Usage (from the repository root)::

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Each invocation runs one workload in a fresh worker process
(``perfbench/worker.py``) on ``local[<usable cores>]``, checks every key's
output against the DuckDB oracle, and prints one line per metric followed by
a single JSON result line. ``--trace 0`` reports the end-to-end metrics
named in ``BENCHMARK.json``; ``--trace 1`` runs the traced variant and
reports its per-layer metrics. ``--smoke`` runs each workload's few smoke
keys at sf0.001 for the benchmark's own tests.

The seed only permutes the order of the warm rounds: the fixtures are
read-only. Everything the run writes (temp files, Spark local dirs, staged
outputs, event log) lives in a private directory under ``perfbench/.runs``
that is removed at the end; a report with the raw timings and spans goes to
``perfbench/out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from proctree import rss_mb, stat_fields, tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_LIMIT_S = 165.0
TAIL_BEYOND = 10


class BenchError(Exception):
    pass


# ------------------------------------------------------------ process tree
class TreeWatcher(threading.Thread):
    """Samples the summed resident memory of a process and its descendants,
    and remembers every descendant seen so none outlives the run."""

    def __init__(self, pid: int, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.period_s = pid, period_s
        self.peak_mb = 0.0
        self.seen: set[int] = {pid}
        self._stop_ev = threading.Event()

    def run(self) -> None:
        while not self._stop_ev.is_set():
            pids = tree(self.pid)
            self.seen.update(pids)
            self.peak_mb = max(self.peak_mb, sum(rss_mb(p) for p in pids))
            self._stop_ev.wait(self.period_s)

    def stop(self) -> None:
        self._stop_ev.set()
        self.join()


def _alive(pid: int) -> bool:
    try:
        return stat_fields(pid)[0] != "Z"
    except (OSError, ValueError, IndexError):
        return False


def reap(pids) -> None:
    """Stop every process in ``pids`` that is still running and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        live = [p for p in pids if _alive(p)]
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while live and time.monotonic() < deadline:
            live = [p for p in live if _alive(p)]
            time.sleep(0.05)
        if not live:
            return
    raise BenchError(f"processes did not exit: {live}")


def run_worker(argv, run_dir, env, limit_s):
    """Start ``worker.py`` and wait; returns (result dict, spawn epoch, peak MB)."""
    out = os.path.join(run_dir, "worker.json")
    log = os.path.join(run_dir, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--out", out, *argv]
    with open(log, "w", encoding="utf-8") as logf:
        spawned = time.time()
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        watcher = TreeWatcher(proc.pid)
        watcher.start()
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            watcher.stop()
            reap(watcher.seen)
            proc.wait()
    if code != 0:
        with open(log, encoding="utf-8", errors="replace") as f:
            tail = f.read()[-3000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise BenchError(f"worker {why}; log tail:\n{tail}")
    with open(out, encoding="utf-8") as f:
        return json.load(f), spawned, watcher.peak_mb


# ------------------------------------------------------------------ metrics
def tail_stat(samples: list[float]) -> tuple[float, float]:
    """Highest percentile with at least TAIL_BEYOND samples above it."""
    xs = sorted(samples)
    i = max(0, len(xs) - TAIL_BEYOND - 1)
    return xs[i], 100.0 * (i + 1) / len(xs)


def _cpu_and_wall(res, setup_wall_s: float) -> tuple[dict, dict]:
    """The four end-to-end figures counted in CPU seconds, and in wall
    seconds."""
    recs = [r for r in res["keys"].values() if r["warm"]]
    if not recs:
        raise BenchError("no warm samples")
    out = []
    for cold, timed, setup in (
        ("cold_cpu", "warm_cpu", res["setup"]["cpu"]),
        ("cold", "warm", setup_wall_s),
    ):
        out.append({
            "setup": setup,
            "cold": sum(r[cold] for r in recs),
            "warm": sum(statistics.median(r[timed]) for r in recs),
            "p50": statistics.median(x for r in recs for x in r[timed]),
        })
    return out[0], out[1]


def end_to_end(res, setup_wall_s, peak_mb) -> tuple[dict, list[str]]:
    cpu, wall = _cpu_and_wall(res, setup_wall_s)
    metrics = {
        "setup_s": cpu["setup"],
        "cold_cpu_s": cpu["cold"],
        "warm_cpu_s": cpu["warm"],
    }
    warm = [x for r in res["keys"].values() for x in r["warm"]]
    tail, pct = tail_stat(warm)
    cpu_tail, _ = tail_stat([x for r in res["keys"].values() for x in r["warm_cpu"]])
    # Printed, not gated: wall-clock time moves with the load other guests
    # put on a shared host; the median sample lands on whichever of several
    # keys of similar cost is in the middle, and with a few dozen samples the
    # tail percentile sits near it; and JVM heap growth makes the peak RSS of
    # one run differ from the next by up to a third.
    notes = [
        f"query_cpu_p50_s {cpu['p50']:.6g} s",
        f"setup_wall_s {wall['setup']:.6g} s",
        f"cold_s {wall['cold']:.6g} s",
        f"warm_s {wall['warm']:.6g} s",
        f"query_p50_s {wall['p50']:.6g} s",
        f"query_cpu_tail_s {cpu_tail:.6g} s (p{pct:.1f} of {len(warm)} warm samples)",
        f"query_tail_s {tail:.6g} s (p{pct:.1f} of {len(warm)} warm samples)",
        f"peak_rss_mb {peak_mb:.6g} MB",
    ]
    return metrics, notes


def wall_layers(res, setup_wall_s) -> dict:
    """Wall-clock figures of a traced run's untraced parts."""
    wall = _cpu_and_wall(res, setup_wall_s)[1]
    return {
        "wall.setup_s": wall["setup"],
        "wall.cold_s": wall["cold"],
        "wall.warm_s": wall["warm"],
        "wall.query_p50_s": wall["p50"],
    }


def check_outputs(res, expected, rows_only) -> tuple[int, int, list[str]]:
    checked = wrong = 0
    notes = []
    for key, rec in res["keys"].items():
        if rec["error"] or "hash" not in rec:
            continue
        checked += 1
        if key in expected:
            ok = rec["hash"] == expected[key]
            what = f"hash {rec['hash']} vs oracle {expected[key]}"
        else:
            ok = rec["rows"] > 0
            what = f"rows-only, {rec['rows']} rows" + (
                "" if key in rows_only else " (no oracle, not declared rows-only)"
            )
        if not ok:
            wrong += 1
            notes.append(f"WRONG {key}: {what}")
    return checked, wrong, notes


# --------------------------------------------------------------------- main
def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def load_program():
    """Import the program under test from the checkout; fail loudly if absent."""
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        raise BenchError(f"no __spark_entry__.py under {ROOT}")
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from trireme_spark.rows_only import ROWS_ONLY

    fixtures = os.path.dirname(entry._SMOKE_SF)  # noqa: SLF001
    return entry.oracle_sql(), set(ROWS_ONLY), fixtures


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    from expected import expected_hashes
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload!r}")
    wl = WORKLOADS[args.workload]
    oracles, rows_only, fixtures = load_program()

    keys = list(wl.smoke if args.smoke else wl.keys)
    sf = "sf0.001" if args.smoke else wl.sf
    sf_dir = os.path.join(fixtures, sf)
    if not os.path.isdir(sf_dir):
        raise BenchError(f"fixture directory {sf_dir} not found")
    expected = expected_hashes(oracles, keys, sf_dir, os.path.join(HERE, ".cache"))

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        HERE, ".runs", f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    )
    tmp, local, evdir = (os.path.join(run_dir, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, evdir):
        os.makedirs(d)
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=local)
    if args.trace:
        for conf in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{evdir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            submit += ["--conf", conf]
        # Spans wrap functions that may be pickled into UDFs; the Python
        # workers then need the tracer module importable.
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (HERE, env.get("PYTHONPATH")) if p
        )
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    try:
        res, spawned, peak_mb = run_worker(
            [
                "--root", ROOT,
                "--sf-dir", sf_dir,
                "--cpus", str(cpus),
                "--keys", ",".join(keys),
                "--seed", str(args.seed),
                "--seconds", str(args.seconds),
                "--trace", str(args.trace),
                "--eventlog-dir", evdir,
            ],
            run_dir, env, WORKER_LIMIT_S,
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    checked, wrong, notes = check_outputs(res, expected, rows_only)
    failed_keys = [k for k, r in res["keys"].items() if r["error"]]
    for k in failed_keys:
        notes.append(f"FAILED {k}:\n{res['keys'][k]['error']}")
    attempted, failed = res["attempted"], res["failed"]
    correct = failed == 0 and wrong == 0 and checked == len(keys)

    if args.trace:
        section, values = spec["per_layer"], res["layers"]
        values["process.peak_rss_mb"] = peak_mb
        values.update(wall_layers(res, res["setup"]["ready"] - spawned))
        for m in section:  # an operators module that no longer exists
            if m["name"].startswith("operators."):
                values.setdefault(m["name"], 0.0)
    else:
        section = spec["end_to_end"]
        values, more = end_to_end(res, res["setup"]["ready"] - spawned, peak_mb)
        notes += more
    missing = [m["name"] for m in section if m["name"] not in values]
    if missing:
        raise BenchError(f"metrics not produced: {missing}")
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in section
    }

    print(
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        f"sf={sf} keys={len(keys)} cpus={cpus}"
    )
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"failed_frac {failed / attempted:.6g} ratio ({failed} of {attempted} runs)")
    print(f"wrong_frac {wrong / max(1, checked):.6g} ratio ({wrong} of {checked} keys)")
    for note in notes:
        print(note)

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    report = os.path.join(
        HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(report, "w", encoding="utf-8") as f:
        json.dump(
            {"args": vars(args), "sf": sf, "peak_rss_mb": peak_mb,
             "metrics": metrics, "result": res},
            f,
        )
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        sys.exit(2)
