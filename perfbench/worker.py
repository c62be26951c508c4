"""Benchmark worker: runs one workload in one fresh process.

Started by ``perfbench/run.py`` with a private working directory, temp
directory and ``SPARK_LOCAL_DIRS``. It is a closed loop with one client:
one query runs at a time, through the registered ``QUERIES[key](spark,
sf_dir)`` and a ``noop`` write sink, as ``bench.py`` does.

After one untimed warm-up query, a cold pass runs every key once, in the
order given. The warm pass then runs rounds, each key once per round in an
order permuted by ``--seed``: a check round that collects each key's
output and hashes it for the correctness check, then timed rounds for
``--seconds``, at least three. With ``--trace 1``, as many traced rounds
follow. Every execution starts with ``clearCache()`` and ``gc.collect()``.
Results go to ``--out`` as JSON.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from proctree import ThreadClock, cpu_s  # noqa: E402

MB = 1 << 20
MIN_ROUNDS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--keys", default="")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--eventlog-dir", default="")
    p.add_argument("--cpus", default="1")
    p.add_argument("--out", required=True)
    return p.parse_args(argv)


def dir_mb(path: str) -> float:
    total = 0
    if os.path.isfile(path):
        return os.path.getsize(path) / MB
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / MB


class Runner:
    def __init__(self, spark, registry, sf_dir: str, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.registry = registry
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.clock = ThreadClock(os.getpid())

    def _tag(self, rep: str, key: str, phase: str) -> None:
        if self.tracer is not None:
            self.sc.setLocalProperty("perfbench.rep", rep)
            self.sc.setLocalProperty("perfbench.key", key)
            self.sc.setLocalProperty("perfbench.phase", phase)

    def run(self, key: str, rep: str, traced: bool = False):
        """One execution through the noop sink.

        Returns wall seconds, CPU seconds (``ThreadClock``: the process tree
        without the JVM's service threads), the DataFrame, and the wall
        clock span.
        """
        fn = self.registry.QUERIES[key]
        tracer = self.tracer if traced else None
        self.attempted += 1
        try:
            self._tag(rep, key, "build")
            cpu0 = self.clock.snapshot()
            wall0 = time.time()
            t0 = time.perf_counter()
            if tracer is not None:
                tracer.run, tracer.key = rep, key
                with tracer.span("queries.build"):
                    df = fn(self.spark, self.sf_dir)
                self._tag(rep, key, "exec")
                with tracer.span("exec.write"):
                    df.write.format("noop").mode("overwrite").save()
            else:
                df = fn(self.spark, self.sf_dir)
                self._tag(rep, key, "exec")
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            wall = (wall0, time.time())
            return dt, self.clock.seconds(cpu0, self.clock.snapshot()), df, wall
        except Exception:
            self.failed += 1
            raise

    def collect(self, key: str):
        """Build the key once more, collect its output and hash it."""
        from expected import value_hash

        self.attempted += 1
        try:
            self._tag("check", key, "build")
            df = self.registry.QUERIES[key](self.spark, self.sf_dir)
            self._tag("check", key, "exec")
            pdf = df.toPandas()
            return value_hash(pdf), len(pdf)
        except Exception:
            self.failed += 1
            raise

    def storage_mb(self) -> float:
        total = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():  # noqa: SLF001
            total += info.memSize() + info.diskSize()
        return total / MB


def catalyst_phases(df) -> dict[str, float]:
    """Phase times of the DataFrame's own QueryExecution.

    Analysis ran when the builder created the DataFrame; reading
    ``executedPlan`` forces optimization and planning on this
    QueryExecution, which the noop write re-does for its command.
    """
    qe = df._jdf.queryExecution()  # noqa: SLF001
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_s"] = (
            opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        )
    return out


def warm_up(spark, sf_dir: str) -> None:
    """One untimed query through the parquet scan, join, aggregation and
    noop sink paths, so the JVM's first-query cost does not land on
    whichever key the seed puts first."""
    from pyspark.sql import functions as F

    def read(name):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    (
        read("customer")
        .join(read("nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*"), F.sum("c_acctbal"))
        .orderBy("n_name")
        .write.format("noop").mode("overwrite").save()
    )


def between_keys(spark) -> None:
    spark.catalog.clearCache()
    gc.collect()


def cold_run(runner: Runner, key: str) -> dict:
    rec = {
        "cold": None, "cold_cpu": None, "warm": [], "warm_cpu": [],
        "traced": [], "layers": {}, "error": None,
    }
    between_keys(runner.spark)
    try:
        rec["cold"], rec["cold_cpu"], _, _ = runner.run(key, "cold")
    except Exception:
        rec["error"] = traceback.format_exc(limit=8)
    return rec


def traced_run(runner: Runner, key: str, rep: str, rec: dict) -> None:
    tracer = runner.tracer
    tracer.install()
    try:
        tracer.table_paths = []
        tracer.staged_paths = set()
        dt, _, df, wall = runner.run(key, rep, traced=True)
        layer = {"wall": wall}
        for name, (self_s, calls) in tracer.self_times(rep, key).items():
            layer[f"{name}.s"] = self_s
            layer[f"{name}.calls"] = calls
        layer["sources.io.table_distinct"] = len(set(tracer.table_paths))
        layer["sources.io.staged_mb"] = sum(dir_mb(p) for p in tracer.staged_paths)
        layer["exec.cache_mb"] = runner.storage_mb()
    finally:
        tracer.uninstall()  # keeps the catalyst probe out of the spans
    layer.update(catalyst_phases(df))
    rec["traced"].append(dt)
    rec["layers"][rep] = layer


def one_round(runner: Runner, recs: dict, kind: str) -> None:
    """Every key that has not failed, once, in the run's order; ``kind`` is
    "check", "warm" or "traced"."""
    for key, rec in recs.items():
        if rec["error"] is not None:
            continue
        between_keys(runner.spark)
        try:
            if kind == "check":
                rec["hash"], rec["rows"] = runner.collect(key)
            elif kind == "traced":
                traced_run(runner, key, f"t{len(rec['traced'])}", rec)
            else:
                dt, cpu, _, _ = runner.run(key, f"w{len(rec['warm'])}")
                rec["warm"].append(dt)
                rec["warm_cpu"].append(cpu)
        except Exception:
            rec["error"] = traceback.format_exc(limit=8)


def warm_pass(runner: Runner, recs: dict, seconds: float, phases: dict) -> int:
    """The check round, then timed rounds; returns the timed round count.

    The check round collects each key's output for the correctness check
    instead of writing it to ``noop``, and is the keys' warm-up. Timed
    rounds run whole until ``seconds`` is spent, so every key gets the same
    number of samples and weighs the same in the sample distribution.
    """
    t0 = time.perf_counter()
    one_round(runner, recs, "check")
    t1, rounds = time.perf_counter(), 0
    while rounds < MIN_ROUNDS or time.perf_counter() - t1 < seconds:
        one_round(runner, recs, "warm")
        rounds += 1
    phases["check"] = t1 - t0
    phases["warm"] = time.perf_counter() - t1
    return rounds


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, args.root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    t0 = time.time()
    from trireme_spark import registry

    t1 = time.time()
    keys = [k for k in args.keys.split(",") if k]
    missing = [k for k in keys if k not in registry.QUERIES]
    if missing:
        print(f"keys not in registry.QUERIES: {missing}", file=sys.stderr)
        return 3
    from trireme_spark.session import get_spark

    spark = get_spark("perfbench", cpus=args.cpus)
    t2 = time.time()
    res = {
        "setup": {
            "start": T_START,
            "ready": t2,
            "cpu": cpu_s(os.getpid()),
            "registry.import_s": t1 - t0,
            "session.get_spark_s": t2 - t1,
        },
        "keys": {},
    }
    try:
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
        runner = Runner(spark, registry, args.sf_dir, tracer)
        phases = res["phases"] = {}
        t = time.perf_counter()
        warm_up(spark, args.sf_dir)
        phases["warm-up query"] = time.perf_counter() - t
        t = time.perf_counter()
        for key in keys:
            res["keys"][key] = cold_run(runner, key)
        phases["cold"] = time.perf_counter() - t
        order = list(keys)
        random.Random(args.seed).shuffle(order)
        recs = {key: res["keys"][key] for key in order}
        rounds = warm_pass(runner, recs, args.seconds, phases)
        t = time.perf_counter()
        if tracer is not None:
            for _ in range(rounds):
                one_round(runner, recs, "traced")
            phases["traced"] = time.perf_counter() - t
        res["attempted"], res["failed"] = runner.attempted, runner.failed
        if tracer is not None:
            res["spans"] = tracer.dump()
    finally:
        spark.stop()
    if args.trace:
        from layers import summarize_layers

        res["layers"] = summarize_layers(res, args.eventlog_dir)
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
