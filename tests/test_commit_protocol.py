"""One write protocol: only the commit module writes persisted tables.

Every table the library persists is written through ``store.py``'s
commit log (``append_table`` / ``replace_table`` / ``write_store`` …),
so a failed write leaves the previous snapshot readable. A module that
drives a ``DataFrameWriter`` itself, or deletes a tree with
``shutil.rmtree``, brings back a second protocol whose failed
overwrite destroys what it replaces. This guard fails on either.

One stream sink: every micro-batch enters a table through
``streaming.pipeline.batch_sink``, which alone turns (checkpoint,
epoch) into a batch id. A ``foreachBatch`` closure elsewhere that
names its batch by the epoch alone lets two streams into one table
replace each other's batches; a build-or-append switch on the batch
id (the old ``write_table``) hides an append inside a build. The
second guard fails on either.

One way to change the store: a redelivered batch replaces its own
files, ``compact`` and ``read_store`` keep one row per ``_id``, and an
update appends a new record. The commit log's ops are exactly
``append``, ``replace``, ``compact`` and ``retention``; a writer that
rewrites stored rows under a new op must also change the third
guard's op set.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "kafana_spark"
COMMIT_MODULE = PKG / "store.py"

#: (module, function) pairs allowed to drive a DataFrameWriter, and why
EXEMPT = {
    ("operators/relational.py", "build_bucketed_warehouse"):
        "saveAsTable: bucketing is catalog metadata, which a parquet "
        "commit log cannot carry",
}


def _chain(node: ast.AST) -> list[str]:
    """Attribute names along a call/attribute receiver chain."""
    names = []
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            node = node.func
    return names


def _violations(source: str, rel: str) -> list[str]:
    """``file:line what`` for each writer call, bare ``.parquet(``
    call and ``rmtree`` in ``source`` (module ``rel``)."""
    out = []

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        where = f"{rel}:{getattr(node, 'lineno', '?')}"
        if isinstance(node, ast.Attribute) and node.attr == "rmtree":
            out.append(f"{where} shutil.rmtree")
        if isinstance(node, ast.Call) and \
                isinstance(node.func, ast.Attribute):
            chain = _chain(node.func)
            # ``df.write.<…>(`` — not ``fh.write(…)``
            if "write" in chain[1:] and (rel, func) not in EXEMPT:
                out.append(f"{where} DataFrameWriter")
            elif chain[0] == "parquet" and "read" not in chain:
                out.append(f"{where} .parquet( outside spark.read")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(source), None)
    return list(dict.fromkeys(out))


def test_only_the_commit_module_writes_tables():
    modules = sorted(p for p in PKG.rglob("*.py") if p != COMMIT_MODULE)
    assert modules
    bad = [v for p in modules
           for v in _violations(p.read_text(),
                                p.relative_to(PKG).as_posix())]
    assert bad == [], (
        "write persisted tables through kafana_spark.store "
        "(append_table / replace_table), not a "
        "DataFrameWriter or rmtree:\n" + "\n".join(bad))


def test_guard_flags_writers_and_rmtree_only():
    """The guard itself: a writer chain, a bare ``.parquet(`` and an
    ``rmtree`` are flagged; reads, file-handle writes and the
    exemption are not."""
    probe = (
        "import shutil\n"
        "def f(df, spark, p, fh, w):\n"
        "    df.write.mode('overwrite').parquet(p)\n"
        "    shutil.rmtree(p)\n"
        "    w.parquet(p)\n"
        "    spark.read.parquet(p)\n"
        "    spark.read.schema('a int').option('x', 1).parquet(p)\n"
        "    fh.write('x')\n"
        "def build_bucketed_warehouse(df):\n"
        "    df.write.saveAsTable('t')\n")
    assert _violations(probe, "operators/relational.py") == [
        "operators/relational.py:3 DataFrameWriter",
        "operators/relational.py:4 shutil.rmtree",
        "operators/relational.py:5 .parquet( outside spark.read"]
    assert _violations(probe, "m.py")[-1] == "m.py:10 DataFrameWriter"


SINK_MODULE = PKG / "streaming" / "pipeline.py"


def _sink_violations(source: str, rel: str) -> list[str]:
    """``file:line what`` for each ``epoch_id`` parameter and each call
    of ``stream_batch_id`` (outside the sink module) and ``write_table``
    (anywhere) in ``source``."""
    out = []
    sink_module = rel == SINK_MODULE.relative_to(PKG).as_posix()
    for node in ast.walk(ast.parse(source)):
        where = f"{rel}:{getattr(node, 'lineno', '?')}"
        if isinstance(node, ast.arg) and node.arg == "epoch_id" \
                and not sink_module:
            out.append(f"{where} epoch_id parameter")
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else \
                getattr(f, "id", None)
            if name == "stream_batch_id" and not sink_module:
                out.append(f"{where} stream_batch_id call")
            elif name == "write_table":
                out.append(f"{where} write_table call")
    return sorted(out)


def test_one_sink_path():
    bad = [v for p in sorted(PKG.rglob("*.py"))
           for v in _sink_violations(p.read_text(),
                                     p.relative_to(PKG).as_posix())]
    assert bad == [], (
        "feed streams through streaming.pipeline.batch_sink(checkpoint, "
        "append, ...) and write with append_table / replace_table:\n"
        + "\n".join(bad))


def test_sink_guard_flags_epoch_closures_and_write_table():
    """The guard itself: an ``epoch_id`` closure, a ``stream_batch_id``
    call and a ``write_table`` call are flagged outside the sink
    module; inside it only ``write_table`` is."""
    probe = (
        "def sink(path):\n"
        "    def _sink(batch_df, epoch_id):\n"
        "        append(batch_df, path, str(epoch_id))\n"
        "        store.write_table(batch_df, path)\n"
        "    return _sink\n"
        "def f(ckpt):\n"
        "    return stream_batch_id(ckpt, 0)\n")
    assert _sink_violations(probe, "index.py") == [
        "index.py:2 epoch_id parameter",
        "index.py:4 write_table call",
        "index.py:7 stream_batch_id call"]
    assert _sink_violations(probe, "streaming/pipeline.py") == [
        "streaming/pipeline.py:4 write_table call"]


#: the commit log's ops
OPS = {"append", "replace", "compact", "retention"}
#: the store.py helpers that take an op, and its positional index
OP_ARG = {"_commit": 2, "_land": 2, "_land_hot": 2, "_land_frame": 1}


def _ops(source: str) -> set[str]:
    """The ``op`` argument of every ``OP_ARG`` call in ``source``: its
    string literal, else its source text — unless it is a helper
    passing on its own ``op`` parameter."""
    out = set()

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) \
                and node.func.id in OP_ARG:
            i = OP_ARG[node.func.id]
            arg = node.args[i] if len(node.args) > i else \
                {k.arg: k.value for k in node.keywords}["op"]
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                out.add(arg.value)
            elif not (func in OP_ARG and isinstance(arg, ast.Name)
                      and arg.id == "op"):
                out.add(ast.unparse(arg))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(source), None)
    return out


def test_commit_log_op_set():
    assert _ops(COMMIT_MODULE.read_text()) == OPS, (
        "the store changes only by append, replace, compact and "
        "retention commits; update a record by appending a new one")


def test_op_guard_collects_literals_and_foreign_expressions():
    """The guard itself: literal ops of all four helpers, positional or
    keyword, are collected; a helper passing on its own ``op`` is not,
    and any other non-literal op is, as its source text."""
    probe = (
        "def _land_frame(path, op, batch, df):\n"
        "    _land(path, None, op, batch, df)\n"
        "def f(base, snap, df, op):\n"
        "    _commit(base, snap, 'append', {})\n"
        "    _land_hot(base, snap, op='retention', owner='r', df=df)\n"
        "    _land_frame(base, 'merge', 'b', df)\n"
        "    _land(base, snap, op, 'x', df)\n"
        "    _commit(base, snap, 'replace' if df else 'merge', {})\n"
        "    other(base, snap, 'upsert')\n")
    assert _ops(probe) == {"append", "retention", "merge", "op",
                           "'replace' if df else 'merge'"}
