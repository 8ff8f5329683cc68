"""Threaded DAG executor for driver-side Python callables.

API-parity target: ``bdq.DAG`` / ``bdq.Node``
(`/root/reference/bdq/dag.py:14-312`, SURVEY.md §2.2 E1).  This is a
from-scratch implementation with the same observable contract:

- ``@dag.node(depends_on=[...])`` registers a callable as a node; node
  states ``RUNNING/SUCCESS/ERROR/SKIPPED`` are *derived*, never stored;
- ``DAG.BREAK`` sentinel: a node returning it is reported SKIPPED and all
  of its descendants are suppressed;
- a parent that raised (ERROR) or returned BREAK permanently blocks its
  children (they stay SKIPPED);
- redefining a node with the same ``__name__`` swaps in the new function
  and clears the node's existing edges;
- nodes are individually callable (``node()``) and resettable
  (``node.reset()``); ``node()`` re-raises the underlying exception;
- ``dag.execute(max_workers)`` runs ready nodes concurrently on a
  ``ThreadPoolExecutor`` and returns when no node can make progress.

No Spark dependency: Spark only ever sees the independent jobs each node
submits from its own thread.  When a Spark session is passed to
``execute`` (or is active on the calling thread), every node runs under
``pyspark.inheritable_thread_target``: its thread starts with its own
copy of the caller's Spark local properties — job group, job
description, scheduler pool, job tags — so cancelling the caller's job
group (a timed-out ``SparkPipeline`` step) also cancels the nodes'
jobs.  Pair with
``spark.scheduler.mode=FAIR`` (set by :mod:`bdq_spark.session`) so
concurrent node queries share the cluster instead of FIFO-queueing — this
is how PK-candidate search (O9) and pipeline steps (E2) overlap their
shuffles on a busy cluster.
"""

from __future__ import annotations

import logging
import threading
import traceback as _tb
from concurrent.futures import Future, ThreadPoolExecutor
from datetime import datetime
from typing import Any, Callable, Dict, Iterable, List, Optional, Set

__all__ = ["DAG", "Node"]


class _BreakSentinel:
    """Unique marker: returning it from a node skips all descendants."""

    _instance: Optional["_BreakSentinel"] = None

    def __new__(cls) -> "_BreakSentinel":
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:  # pragma: no cover - cosmetic
        return "DAG.BREAK"


class Node:
    """A named callable in a :class:`DAG`, with derived execution state."""

    def __init__(self, function: Callable, dag: "DAG"):
        if function is None or not callable(function):
            raise ValueError("function must be a callable and may not be None")
        self.name: str = function.__name__
        self.dag = dag
        self.log = dag.log.getChild(self.name)
        self.function = function
        self.children: Set["Node"] = set()
        self.parents: Set["Node"] = set()
        self.completed = threading.Event()
        self.future: Optional[Future] = None
        self.exception: Optional[BaseException] = None
        self.result: Any = None
        self.start_ts: Optional[datetime] = None
        self.stop_ts: Optional[datetime] = None

    @property
    def state(self) -> str:
        """Derived state (never stored) — same precedence as the reference:
        ERROR > BREAK-skip > SUCCESS > RUNNING > SKIPPED."""
        if self.exception is not None:
            return "ERROR"
        if self.result is DAG.BREAK:
            return "SKIPPED"
        if self.completed.is_set():
            return "SUCCESS"
        if self.future is not None:
            return "RUNNING"
        return "SKIPPED"

    @property
    def nodes(self):
        return self.dag.nodes

    @property
    def traceback(self) -> Optional[str]:
        if self.exception is not None:
            return "".join(_tb.format_tb(self.exception.__traceback__))
        return None

    def reset(self, reset_futures: bool = False) -> None:
        self.start_ts = None
        self.stop_ts = None
        self.completed = threading.Event()
        self.exception = None
        self.result = None
        if reset_futures and self.future is not None:
            try:
                self.future.cancel()
            except Exception:
                pass
            self.future = None

    def __call__(self, *args: Any, **kwargs: Any) -> Any:
        """Run the node synchronously; records outcome and re-raises errors."""
        self.reset()
        self.start_ts = datetime.now()
        try:
            self.result = self.function(*args, **kwargs)
            return self.result
        except Exception as e:
            self.exception = e
            raise
        finally:
            self.stop_ts = datetime.now()
            self.completed.set()

    def __repr__(self) -> str:
        details = {
            "state": self.state,
            "result": self.result,
            "exception": self.exception,
            "completed": self.completed.is_set(),
        }
        return f"Node({self.function}: {details})"

    def __hash__(self) -> int:
        return id(self)


class DAG:
    """A graph of :class:`Node` callables executed with bounded concurrency."""

    #: Sentinel return value that suppresses all descendant nodes.
    BREAK = _BreakSentinel()

    def __init__(self, name: Optional[str] = None):
        self.name = name or "DAG"
        self.log = logging.getLogger(self.name)
        self.log.setLevel(logging.INFO)
        self.nodes: Dict[Node, Callable] = {}
        self.functions: Dict[Callable, Node] = {}

    # -- graph construction -------------------------------------------------

    def node(self, *, depends_on: Optional[List[Node]] = None):
        """Decorator registering a function as a node with dependencies."""
        deps = depends_on or []
        if not isinstance(deps, Iterable):
            raise ValueError(
                f"depends_on must be a list of Nodes, instead got: {depends_on}"
            )

        def _register(func: Callable) -> Node:
            if func in self.functions:
                raise ValueError(f"Function {func} is already part of this graph")
            for dep in deps:
                if not isinstance(dep, Node):
                    raise ValueError(f"dependency {dep!r} is not a Node")

            node = self._reuse_or_create(func)
            self.nodes[node] = func
            self.functions[func] = node
            for dep in deps:
                self.add_edge(dep, node)
            return node

        return _register

    def _reuse_or_create(self, func: Callable) -> Node:
        """Same-name redefinition swaps the function and clears old edges."""
        for existing in self.nodes:
            if existing.name == func.__name__:
                self.functions.pop(existing.function, None)
                existing.function = func
                for other in self.nodes:
                    other.children.discard(existing)
                    other.parents.discard(existing)
                existing.children.clear()
                existing.parents.clear()
                return existing
        return Node(func, self)

    def add_edge(self, from_node: Node, to_node: Node) -> None:
        for node, label in ((from_node, "from_node"), (to_node, "to_node")):
            if not isinstance(node, Node):
                raise ValueError(f"{label} is not of Node type")
            if node not in self.nodes:
                raise ValueError(f"{label} does not exist: {node}")
        from_node.children.add(to_node)
        to_node.parents.add(from_node)

    # -- state inspection ---------------------------------------------------

    def is_dependency_met(self, node: Node) -> bool:
        """True iff every parent completed cleanly (no ERROR, no BREAK)."""
        return all(
            p.completed.is_set() and p.exception is None and p.result is not DAG.BREAK
            for p in node.parents
        )

    def is_success(self) -> bool:
        return not self.get_error_nodes()

    def _nodes_in_state(self, state: str) -> List[Node]:
        return [n for n in self.nodes if n.state == state]

    def get_error_nodes(self) -> List[Node]:
        return self._nodes_in_state("ERROR")

    def get_skipped_nodes(self) -> List[Node]:
        return self._nodes_in_state("SKIPPED")

    def get_success_nodes(self) -> List[Node]:
        return self._nodes_in_state("SUCCESS")

    def reset_nodes(self) -> None:
        for n in self.nodes:
            n.reset(reset_futures=True)

    def visualize(self):  # pragma: no cover - optional notebook extra
        """Live graph widget if ``ipydagred3`` is installed; else None."""
        try:
            import ipydagred3  # type: ignore
        except ImportError:
            self.log.info("install `ipydagred3` for live DAG visualization")
            return None
        g = ipydagred3.Graph()
        for n in self.nodes:
            g.setNode(n.name)
            for c in n.children:
                g.setEdge(n.name, c.name)
        return ipydagred3.DagreD3Widget(graph=g)

    # -- execution ----------------------------------------------------------

    def execute(self, max_workers: int, spark=None) -> None:
        """Run the whole graph; returns when no node can make progress.

        Nodes inherit the calling thread's Spark local properties (see the
        module docstring); ``spark`` defaults to the calling thread's
        active session, and with neither, nodes run on plain threads.

        Scheduling is event-driven: a node is submitted as soon as its last
        parent succeeds.  A mutex guards the ready-check; the completion
        hook re-evaluates only the finished node's children, so scheduling
        cost is O(edges) total.  Futures' ``add_done_callback`` fires on the
        worker thread, which then calls back into the scheduler — the lock
        is released before any submission to avoid re-entrant deadlock.
        """
        self.reset_nodes()
        if not self.nodes:
            return

        lock = threading.Lock()
        in_flight = 0
        drained = threading.Event()
        pool = ThreadPoolExecutor(max_workers=max_workers)

        def submit_ready(candidates: Iterable[Node]) -> List[Node]:
            nonlocal in_flight
            launched: List[Node] = []
            with lock:
                for cand in candidates:
                    if cand.future is not None or not self.is_dependency_met(cand):
                        continue
                    in_flight += 1
                    cand.future = pool.submit(targets[cand], cand)
                    launched.append(cand)
            # attach callbacks outside the lock: a future finished before
            # attachment runs the callback inline, which needs the lock
            for n in launched:
                n.future.add_done_callback(lambda _f, n=n: on_done(n))
            return launched

        def on_done(node: Node) -> None:
            nonlocal in_flight
            if node.exception is not None:
                node.log.error("node failed", exc_info=node.exception)
            ready: List[Node] = []
            if node.exception is None and node.result is not DAG.BREAK:
                ready = submit_ready(node.children)
            with lock:
                in_flight -= 1
                if in_flight == 0 and not ready:
                    drained.set()

        def _run_quietly(node: Node) -> None:
            try:
                node()
            except Exception:
                pass  # outcome is recorded on the node itself

        # wrapped here, on the caller's thread: each wrapper captures its
        # own copy of the caller's local properties, so nodes running
        # concurrently never share (and clobber) one properties object
        targets = {n: _inheriting(spark)(_run_quietly) for n in self.nodes}

        if not submit_ready(list(self.nodes)):
            pool.shutdown()
            return
        drained.wait()
        pool.shutdown()

    def __call__(self, max_workers: int, spark=None) -> None:
        return self.execute(max_workers=max_workers, spark=spark)


def _inheriting(spark) -> Callable[[Callable], Callable]:
    """``pyspark.inheritable_thread_target`` for ``spark`` (else the
    calling thread's active session), called now so it captures the
    calling thread's local properties; the identity when there is no
    session or PySpark is not installed."""
    try:
        from pyspark import inheritable_thread_target
        from pyspark.sql import SparkSession
    except ImportError:  # pragma: no cover - Spark-free install
        return lambda target: target
    session = spark or SparkSession.getActiveSession()
    if session is None:
        return lambda target: target
    wrap = inheritable_thread_target(session)
    # without pinned threads (PYSPARK_PIN_THREAD=false) PySpark hands the
    # session back instead of a decorator: there is nothing to copy
    return (lambda target: target) if wrap is session else wrap
