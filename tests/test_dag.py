"""DAG executor tests — semantics ported from
/root/reference/tests/dag_test.py (sleeps shortened)."""

import time

import pytest

from bdq_spark.plans import DAG


def build_graph():
    graph = DAG()

    @graph.node()
    def a():
        time.sleep(0.05)
        return 5

    @graph.node()
    def b():
        time.sleep(0.08)
        return "beeep"

    @graph.node(depends_on=[b])
    def c():
        time.sleep(0.1)
        return 8

    @graph.node(depends_on=[b, c, a])
    def d():
        time.sleep(0.1)
        return "g man say: " + b.result * abs(c.result - a.result)

    @graph.node(depends_on=[a])
    def e():
        time.sleep(0.05)
        raise ValueError(f"omg, crash! {a.result}")

    @graph.node(depends_on=[e])
    def f():
        return "this will never execute"

    @graph.node(depends_on=[a])
    def g():
        time.sleep(0.05)
        return graph.BREAK

    @graph.node(depends_on=[g])
    def i():
        return "this will never execute too"

    return graph, locals()


def test_dag_execution_states_and_results():
    graph, nodes = build_graph()
    graph.execute(max_workers=10)

    assert {n.name for n in graph.get_error_nodes()} == {"e"}
    assert {n.name for n in graph.get_skipped_nodes()} == {"f", "g", "i"}
    assert {n.name for n in graph.get_success_nodes()} == {"a", "b", "c", "d"}
    assert graph.is_success() is False

    a, b, d, g = nodes["a"], nodes["b"], nodes["d"], nodes["g"]
    assert a.result == 5
    assert b.result == "beeep"
    assert d.result == "g man say: beeepbeeepbeeep"
    assert g.result is graph.BREAK


def test_node_reset_and_rerun():
    graph, nodes = build_graph()
    graph.execute(max_workers=10)
    a, e = nodes["a"], nodes["e"]

    a.reset()
    assert a.result is None
    a()
    assert a.result == 5
    a()  # rerun without reset also allowed
    assert a.result == 5

    e.reset()
    assert e.result is None
    assert e.exception is None
    with pytest.raises(ValueError):
        e()
    assert isinstance(e.exception, ValueError)
    assert e.traceback  # formatted traceback available


def test_node_redefinition_replaces_function():
    graph = DAG()

    @graph.node()
    def x():
        return 1

    @graph.node(depends_on=[x])
    def y():
        return x.result + 1

    # redefine x: same name, new function, edges cleared then re-added
    @graph.node()
    def x():  # noqa: F811
        return 10

    graph.execute(max_workers=2)
    assert x.result == 10
    # y lost its dependency edge on redefinition: still runs standalone
    assert y.state in ("SUCCESS", "ERROR")


def test_empty_dag_returns():
    graph = DAG()
    graph.execute(max_workers=2)  # must not hang
    assert graph.is_success()


def test_is_dependency_met_semantics():
    graph = DAG()

    @graph.node()
    def p():
        raise RuntimeError("boom")

    @graph.node(depends_on=[p])
    def q():
        return 1

    graph.execute(max_workers=2)
    assert p.state == "ERROR"
    assert q.state == "SKIPPED"
    assert not graph.is_dependency_met(q)


def test_nodes_inherit_spark_local_properties(spark):
    """Each node starts with its own copy of the caller's Spark local
    properties: it sees the caller's values, and a value one node sets
    reaches neither a concurrent node nor the caller."""
    import threading

    sc = spark.sparkContext
    sc.setLocalProperty("bdq.test.owner", "caller")
    try:
        graph = DAG()
        barrier = threading.Barrier(2, timeout=10)

        def make(name):
            def node():
                seen = sc.getLocalProperty("bdq.test.owner")
                sc.setLocalProperty("bdq.test.owner", name)
                barrier.wait()  # both nodes have set their own value
                return seen, sc.getLocalProperty("bdq.test.owner")

            node.__name__ = name
            return graph.node()(node)

        one, two = make("one"), make("two")
        graph.execute(max_workers=2, spark=spark)
        assert one.result == ("caller", "one")
        assert two.result == ("caller", "two")
        assert sc.getLocalProperty("bdq.test.owner") == "caller"
    finally:
        sc.setLocalProperty("bdq.test.owner", None)
