"""In-memory spans and counters at the engine's layer boundaries.

The tracer wraps public entry points of each layer from outside the
library (``Tracer.install`` / ``uninstall``) and times calls into them:

* ``parser``     -- ``parse_parameterized``, patched in ``session``'s
  namespace because ``session`` imports it by name;
* ``session``    -- ``CypherSession.cypher``;
* ``plans``      -- ``Planner.plan``;
* ``graph_algos``-- the algorithm functions the workloads call;
* ``cache``      -- ``DataFrame.localCheckpoint`` calls and
  ``CacheLease.add`` calls (counters only).

Spans carry a parent link and the id of the request they belong to;
calls made from other threads (driver thread pools inside an algorithm)
attach to the request's root span.
"""

from __future__ import annotations

import threading
import time
from collections import Counter
from contextlib import contextmanager

from metrics import Span

WRAPPED_ALGOS = ("pagerank", "k_core", "label_propagation",
                 "strongly_connected_components", "louvain",
                 "weighted_shortest_paths")


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: Counter = Counter()      # (request, counter) -> n
        self._local = threading.local()
        self._lock = threading.Lock()
        self._request = None                  # (request id, root span id)
        self._undo: list = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        rid, root = self._request if self._request else (-1, None)
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), stack[-1].span_id if stack else root,
                      rid, name, time.time())
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().remove(sp)

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def begin_request(self, rid: int, kind: str) -> Span:
        self._request = (rid, None)
        root = self.open(f"request.{kind}")
        self._request = (rid, root.span_id)
        return root

    def end_request(self, root: Span) -> None:
        self.close(root)
        self._request = None

    def count(self, what: str, n: int = 1) -> None:
        rid = self._request[0] if self._request else -1
        with self._lock:
            self.counts[(rid, what)] += n

    # -- wrappers ------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def _timed(self, name: str):
        def wrap(fn):
            def traced(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)
            return traced
        return wrap

    def _counted(self, what: str):
        def wrap(fn):
            def counted(*args, **kwargs):
                self.count(what)
                return fn(*args, **kwargs)
            return counted
        return wrap

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from cypher_for_apache_flink_spark import cache, session
        from cypher_for_apache_flink_spark.functions import graph_algos
        from cypher_for_apache_flink_spark.plans import planner
        self._patch(session, "parse_parameterized",
                    self._timed("parser.parse"))
        self._patch(session.CypherSession, "cypher",
                    self._timed("session.cypher"))
        self._patch(planner.Planner, "plan", self._timed("plans.plan"))
        for algo in WRAPPED_ALGOS:
            self._patch(graph_algos, algo, self._timed(f"graph_algos.{algo}"))
        self._patch(DataFrame, "localCheckpoint",
                    self._counted("cache.checkpoints"))
        self._patch(cache.CacheLease, "add",
                    self._counted("cache.leased_frames"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
