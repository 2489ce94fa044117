"""The one micro-batch driver under every streaming face.

Default-run guards: every foreachBatch query in the package starts
through ``streaming.sync.start_batches``; no ``streaming/`` module
imports a private name of ``pipeline/`` or ``extensions/``; and the
epoch splitter behind the SCD-2 and CDC join-view faces refuses a
catch-up batch that mixes a NULL epoch with numeric ones with its
documented error.
"""

import ast
import os

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "database_clonev2_spark",
)


def _modules(subdir: str = ""):
    root = os.path.join(PKG, subdir)
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read())


def _enclosing_functions(tree):
    """Map id(node) -> name of the outermost top-level function holding it."""
    owner = {}
    for top in tree.body:
        if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(top):
                owner[id(node)] = top.name
    return owner


def test_foreach_batch_only_in_start_batches():
    sites = []
    for rel, tree in _modules():
        owner = _enclosing_functions(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "foreachBatch":
                sites.append((rel, owner.get(id(node)), node.lineno))
    assert [(rel, fn) for rel, fn, _ in sites] == [
        (os.path.join("streaming", "sync.py"), "start_batches")
    ], sites


def test_streaming_imports_no_private_of_pipeline_or_extensions():
    """The shared store-layer modules (``pipeline._buckets``,
    ``extensions._segments``) are imported by their public names; what
    is refused is an underscore NAME — a module's own private helper."""
    scanned, bad = 0, []
    for rel, tree in _modules("streaming"):
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.module is None:
                continue
            parts = node.module.split(".")
            if node.level == 0:
                if parts[0] != "database_clonev2_spark":
                    continue
                parts = parts[1:]
            elif node.level != 2:  # streaming/ is one level below the root
                continue
            if parts[0] not in ("pipeline", "extensions"):
                continue
            scanned += 1
            bad += [
                (rel, node.lineno, node.module, a.name)
                for a in node.names
                if a.name.startswith("_")
            ]
    assert scanned, "no streaming/ import of pipeline/ or extensions/ seen"
    assert bad == []


def test_scd2_stream_null_epoch_mixed_with_numeric_raises(spark, tmp_path):
    """A catch-up batch carrying a NULL ``_epoch`` (a non-numeric epoch
    dir) BESIDE a numeric one must raise the documented numeric-epoch
    error, not a TypeError from ordering None against an int."""
    from database_clonev2_spark.streaming.sync import stream_scd2_maintain

    schema = "change_type string, k long, v long, _epoch long"
    src = str(tmp_path / "feed")
    spark.createDataFrame(
        [("insert", 1, 10, 1), ("insert", 2, 20, None)], schema
    ).coalesce(1).write.parquet(src)
    q = stream_scd2_maintain(
        spark.readStream.schema(schema).parquet(src),
        str(tmp_path / "hist"),
        ["k"],
        str(tmp_path / "ck"),
        n_buckets=2,
    )
    with pytest.raises(Exception, match="numeric epoch ids"):
        q.awaitTermination()
    assert not os.path.exists(tmp_path / "hist")
