"""``session.local_frame``: the one way the engine turns request-sized
Python rows into a DataFrame.

``createDataFrame(list)`` parallelizes its rows into a Python RDD, so
every scan of the frame runs Python-worker tasks. ``local_frame``
keeps the rows in the plan as a JVM ``LocalRelation``. These tests
keep every engine call site on it, and pin that it gives the same rows
and schema as ``createDataFrame`` for every schema the engine uses.
The same AST scan keeps the streaming skeleton (``readStream``,
``writeStream``, ``foreachBatch``) inside its three kernels.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

from vector_graph_native_database__spark.session import local_frame

PKG = (
    pathlib.Path(__file__).resolve().parents[1]
    / "vector_graph_native_database__spark"
)


def _attr_uses_outside(attr: str, owners: set[str]) -> list[str]:
    """``file:line`` of every ``.attr`` in the engine package outside
    the functions named in ``owners`` (as ``"pkg/file.py:func"``)."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        allowed: set[int] = set()
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.FunctionDef)
                and f"{rel}:{node.name}" in owners
            ):
                allowed |= {id(n) for n in ast.walk(node)}
        offenders += [
            f"{path.relative_to(PKG.parent)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and node.attr == attr
            and id(node) not in allowed
        ]
    return offenders


def test_no_create_dataframe_outside_local_frame():
    offenders = _attr_uses_outside(
        "createDataFrame", {"session.py:local_frame"}
    )
    assert offenders == [], (
        "build request frames with session.local_frame, not "
        f"createDataFrame: {offenders}"
    )


STREAM_OWNERS = {
    "foreachBatch": {"streaming/ingest.py:_maintain"},
    "writeStream": {
        "streaming/ingest.py:_maintain",
        "registry/common.py:replay_to_parquet",
    },
    "readStream": {
        "streaming/ingest.py:_maintain",
        "streaming/ingest.py:stream_events",
    },
}


@pytest.mark.parametrize("attr", sorted(STREAM_OWNERS))
def test_streaming_skeleton_lives_in_its_kernels(attr):
    """Stream maintenance goes through ``ingest._maintain``, sink
    replays through ``common.replay_to_parquet``, and the events
    stream through ``ingest.stream_events``; no entry hand-rolls its
    own readStream → sink → availableNow skeleton."""
    offenders = _attr_uses_outside(attr, STREAM_OWNERS[attr])
    assert offenders == [], f"{attr} outside its kernels: {offenders}"


def test_analytics_lineage_cut_lives_in_cut():
    """Every loop in ``operators/analytics.py`` cuts lineage through
    ``analytics._cut``, so the cut policy (lazy local checkpoint; a
    reliable checkpoint on a cluster) is one line."""
    offenders = [
        o
        for o in _attr_uses_outside(
            "localCheckpoint", {"operators/analytics.py:_cut"}
        )
        if o.startswith(f"{PKG.name}/operators/analytics.py:")
    ]
    assert offenders == [], f"localCheckpoint outside _cut: {offenders}"


CASES = {
    "string": ("s string", [("a",), (None,), ("",)]),
    "int": ("i int", [(1,), (None,), (-2_147_483_648,)]),
    "long": ("l long", [(2**40,), (None,), (0,)]),
    "double": ("d double", [(1.5,), (None,), (1e-300,), (-0.25,)]),
    "array<double>": (
        "v array<double>",
        [([1.0, 2.5],), ([],), (None,), ([None, -3.0],)],
    ),
    "map<string,string>": (
        "m map<string,string>",
        [({"lang": "en", "source": "s1"},), ({},), (None,), ({"k": None},)],
    ),
    "facade nodes": (
        "id string, text string, metadata map<string,string>",
        [("n1", "some text", {"lang": "en"}), ("n2", None, None)],
    ),
    "facade embeddings": (
        "node_id string, vector array<double>, dim int",
        [("n1", [0.5, -0.5], 2), ("n2", None, None)],
    ),
    "bfs start": (
        "qid string, id string, distance int, path_weight double",
        [("a", "a", 0, 0.0), ("b", "b", 0, 0.0)],
    ),
}


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "zero-rows"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_is_local_relation_with_create_dataframe_rows(
    spark, case, empty
):
    ddl, rows = CASES[case]
    rows = [] if empty else rows
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert got.schema == want.schema
    assert got.collect() == want.collect()
