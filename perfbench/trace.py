"""Spans around the calls the benchmark makes into each engine layer.

The traced run (``--trace 1``) wraps the layers' public entry points from
here — the engine itself carries no instrumentation. Spans (name, start,
end, parent, op id, pass id) stay in memory and are written out when the
run ends. Wrappers pass straight through while ``Tracer.active`` is off,
so one process can alternate traced and untraced passes and measure the
tracing overhead against itself.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

# Methods of BasicStorage and IsolatedStorage that instrument() wraps.
_STORAGE_METHODS = ("read", "readStream", "write", "writeStream", "merge", "exists")
_ISOLATION_METHODS = _STORAGE_METHODS + ("read_production_data",)


class Tracer:
    def __init__(self):
        self.active = False
        self.spans: list[list] = []  # [name, start, end, parent, op, pass]
        self.py4j_calls = 0
        self.op = None
        self.pass_id = None
        self._stack: list[int] = []
        self._main = threading.get_ident()
        self._undo: list = []

    @contextmanager
    def span(self, name: str):
        if not self.active or threading.get_ident() != self._main:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op, self.pass_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper until ``restore``."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._undo.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name, original))

    def instrument(self, spark) -> None:
        """Wrap every layer entry point the workloads reach."""
        from jorvik_spark.data_lineage.observer import DataLineageLogger
        from jorvik_spark.pipelines.etl import ETL
        from jorvik_spark.queries import registry
        from jorvik_spark.storage.basic import BasicStorage
        from jorvik_spark.storage.isolation import IsolatedStorage

        for m in _STORAGE_METHODS:
            self.patch(BasicStorage, m, f"storage.basic.{m}")
        for m in _ISOLATION_METHODS:
            self.patch(IsolatedStorage, m, f"storage.isolation.{m}")
        self.patch(DataLineageLogger, "update", "data_lineage.update")
        self.patch(ETL, "verify_input_schemas", "pipelines.etl.verify")
        self.patch(ETL, "verify_output_schemas", "pipelines.etl.verify")
        self.patch(registry, "clear_memos", "queries.registry.clear")

        # Every JVM call leaves through the gateway client's send path.
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self.active:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._undo.append((client, "send_command", None))

    def restore(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    # -- jobs ---------------------------------------------------------

    @contextmanager
    def job_group(self, spark, group: str):
        """Tag the Spark jobs an op submits, so ``jobs()`` can count them
        from ``statusTracker``. A no-op while tracing is off."""
        if not self.active:
            yield
            return
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    @staticmethod
    def jobs(spark, group: str) -> int:
        return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    # -- reading spans -------------------------------------------------

    def durations(self, name: str, pass_id, *, exclude_under: str | None = None,
                  minus_children: str | None = None, self_time: bool = False) -> list[float]:
        """Durations of spans called ``name`` (or starting with it when
        it ends in ``.``) in one pass.

        ``exclude_under`` drops spans nested anywhere below a span of that
        name; ``minus_children`` subtracts direct children of that name;
        ``self_time`` subtracts every direct child.
        """
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                children.setdefault(s[3], []).append(i)

        def under(i: int) -> bool:
            p = self.spans[i][3]
            while p is not None:
                if self.spans[p][0] == exclude_under:
                    return True
                p = self.spans[p][3]
            return False

        def match(n: str) -> bool:
            return n.startswith(name) if name.endswith(".") else n == name

        out = []
        for i, s in enumerate(self.spans):
            if s[5] != pass_id or not match(s[0]) or s[2] is None:
                continue
            if exclude_under and under(i):
                continue
            d = s[2] - s[1]
            for c in children.get(i, ()):
                if self_time or self.spans[c][0] == minus_children:
                    d -= self.spans[c][2] - self.spans[c][1]
            out.append(d)
        return out

    def dump(self, path: str) -> None:
        keys = ("name", "start", "end", "parent", "op", "pass")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(keys, s))) + "\n")
