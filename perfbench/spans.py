"""Outside-in span recording for the traced run.

The tracer wraps the public functions of each layer by rebinding every name
that refers to them: the defining module's attribute, each
``from module import name`` copy in another ``trireme_spark`` module, class
attributes for methods, and closure cells of the registered query wrappers
(``registry.register`` captures ``session.prep`` in a closure). Everything is
restored by :meth:`Tracer.uninstall`.

Spans are kept in memory as ``(name, start, end, parent, run, key)`` and
written out by the caller when the run ends; :meth:`Tracer.self_times`
derives self times (duration minus the part covered by child spans).
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint", "cache", "persist")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.run = ""
        self.key = ""
        self.table_paths: list[str] = []
        self.staged_paths: set[str] = set()
        self._stack = threading.local()
        self._patches: list[tuple] = []

    def __reduce__(self):
        # A wrapped function can end up inside a UDF closure that Spark
        # pickles to its Python workers; there it runs untraced.
        return (Tracer, ())

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._stack, "v", None)
        if stack is None:
            stack = self._stack.v = []
        parent = stack[-1] if stack else None
        idx = len(self.spans)
        self.spans.append(None)
        stack.append(idx)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans[idx] = (name, start, end, parent, self.run, self.key)

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if name == "sources.io.table":
                tracer.table_paths.append(_table_path(args, kwargs))
            elif name == "sources.io.staging_dir":
                tracer.staged_paths.add(out)
            return out

        traced.__wrapped_by_perfbench__ = fn
        return traced

    # ------------------------------------------------------------ patching
    def install(self) -> None:
        import pyspark.sql.classic.dataframe as classic

        from trireme_spark import parity, registry, session
        from trireme_spark.sources import connectors, io

        targets: list[tuple[str, object, str]] = [
            ("session.prep", session, "prep"),
            ("session.get_spark", session, "get_spark"),
            ("sources.io.table", io, "table"),
            ("sources.io.staging_dir", io, "staging_dir"),
            ("sources.io.write_read_roundtrip", io, "write_read_roundtrip"),
            ("sources.connectors.read", connectors.CassandraSource, "read"),
            ("sources.connectors.write", connectors.SolrSink, "write"),
            ("sources.connectors.read_back", connectors.SolrSink, "read_back"),
            ("parity.dsum", parity, "dsum"),
            ("parity.dsum", parity, "dsum_wide"),
        ]
        for mod in operator_modules():
            short = mod.__name__.rsplit(".", 1)[-1]
            for attr, obj in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                ):
                    targets.append((f"operators.{short}", mod, attr))
        for meth in CHECKPOINT_METHODS:
            targets.append(("exec.checkpoint", classic.DataFrame, meth))

        modules = [
            m for n, m in list(sys.modules.items())
            if n.startswith("trireme_spark") and m is not None
        ]
        for name, owner, attr in targets:
            orig = vars(owner)[attr]
            wrapped = self.wrap(name, orig)
            self._set(owner, attr, wrapped, orig)
            if inspect.isclass(owner):
                continue
            for mod in modules:
                for n, v in list(vars(mod).items()):
                    if v is orig:
                        self._set(mod, n, wrapped, orig)
            for fn in registry.QUERIES.values():
                for cell in fn.__closure__ or ():
                    if cell.cell_contents is orig:
                        cell.cell_contents = wrapped
                        self._patches.append((cell, None, orig))

    def _set(self, owner, attr, new, orig) -> None:
        setattr(owner, attr, new)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if attr is None:
                owner.cell_contents = orig
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ analysis
    def self_times(self, run: str, key: str) -> dict[str, list[float]]:
        """``{span name: [total self seconds, calls]}`` for one (run, key)."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s is not None and s[3] is not None:
                child_time[s[3]] += s[2] - s[1]
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            if s is None or s[4] != run or s[5] != key:
                continue
            acc = out.setdefault(s[0], [0.0, 0])
            acc[0] += (s[2] - s[1]) - child_time[i]
            acc[1] += 1
        return out

    def dump(self) -> list[dict]:
        return [
            dict(zip(("name", "start", "end", "parent", "run", "key"), s))
            for s in self.spans
            if s is not None
        ]


def operator_modules():
    import importlib
    import pkgutil

    import trireme_spark.operators as pkg

    return [
        importlib.import_module(f"{pkg.__name__}.{m.name}")
        for m in pkgutil.iter_modules(pkg.__path__)
    ]


def _table_path(args, kwargs) -> str:
    sf_dir = kwargs.get("sf_dir", args[1] if len(args) > 1 else "")
    name = kwargs.get("name", args[2] if len(args) > 2 else "")
    return f"{sf_dir}/{name}"
