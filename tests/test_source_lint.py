"""Source lint: each production-path contract keeps one implementation.

Runs on the package source only (no Spark, milliseconds):

* the sink fan-out write (``partitionBy("sink")``) appears only in
  ``operators/route.py`` — every writer goes through ``route.fanout_write``,
  so a copy cannot drift (one that skipped the NULL-sink filter wrote blank
  lines to a ``sink=__HIVE_DEFAULT_PARTITION__`` directory);
* the outcome predicates live only in ``operators/aggregate.py``
  (``success_expr`` / ``error_expr``); the partial form
  ``parse_ok & ~is_oversize`` appears nowhere;
* the checkpoint metadata tables go through one pyarrow path in
  ``plans/checkpoint.py``: read only by ``_read``, written only by
  ``_append`` and ``_rewrite``, never by a Spark reader or writer, and no
  ``except Exception`` turns a read error into "nothing committed";
* the commit core ``checkpoint.commit_batch`` executes the parsed plan
  once: ``routed`` feeds only the ``route_ops.fanout_write`` call, and the
  lineage does not come from ``spark_partition_id`` over a second
  execution of it;
* after that write, ``commit_batch`` makes no Spark call: nothing it runs
  from there on, down through the checkpoint functions it calls, names a
  SparkSession, a frame or a Spark function, and ``written_counts`` takes
  no SparkSession;
* ``streaming/pipeline.py`` calls no ``fanout_write`` and no ``.collect()``:
  its sink write and its metrics come only from the commit core.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "log_collector_spark")

FANOUT = 'partitionBy("sink")'
PARTIAL_SUCCESS = 'F.col("parse_ok") & ~F.col("is_oversize")'


def _hits(needle: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    for i, line in enumerate(fh, 1):
                        if needle in line:
                            out.append(f"{os.path.relpath(path, PKG)}:{i}")
    return out


def test_sink_fanout_written_only_by_route():
    hits = _hits(FANOUT)
    assert [h.split(":")[0] for h in hits] == [
        os.path.join("operators", "route.py")], hits


def test_no_partial_success_predicate():
    assert _hits(PARTIAL_SUCCESS) == []


CHECKPOINT = os.path.join(PKG, "plans", "checkpoint.py")
CKPT_PATHS = {"_ckpt_path", "_filestate_path"}


def _checkpoint_tree() -> ast.Module:
    with open(CHECKPOINT, encoding="utf-8") as fh:
        return ast.parse(fh.read())


def _checkpoint_functions() -> list[ast.FunctionDef]:
    return [n for n in _checkpoint_tree().body
            if isinstance(n, ast.FunctionDef)]


def _calls(node: ast.AST, attr: str) -> bool:
    return any(isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
               and n.func.attr == attr for n in ast.walk(node))


def _chain(node: ast.AST) -> list[str]:
    """Attribute names along a call chain: ``a.read.b(x).c`` → c, b, read."""
    out = []
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            out.append(node.attr)
            node = node.value
        else:
            node = node.func
    return out


def test_checkpoint_swallows_no_errors():
    broad = [h.lineno for h in ast.walk(_checkpoint_tree())
             if isinstance(h, ast.ExceptHandler)
             and (h.type is None or (isinstance(h.type, ast.Name)
                                     and h.type.id in ("Exception",
                                                       "BaseException")))]
    assert broad == []


def test_checkpoint_tables_have_one_pyarrow_io_path():
    fns = _checkpoint_functions()
    assert {f.name for f in fns if _calls(f, "write_table")} == \
        {"_append", "_rewrite"}
    assert {f.name for f in fns
            if _calls(f, "read_table") or _calls(f, "dataset")} == {"_read"}


def test_checkpoint_tables_never_touched_by_spark_io():
    hits = []
    for fn in _checkpoint_functions():
        # names bound to a metadata table's path inside this function
        tainted = {t.id for n in ast.walk(fn) if isinstance(n, ast.Assign)
                   for t in n.targets if isinstance(t, ast.Name)
                   and any(isinstance(c, ast.Call)
                           and isinstance(c.func, ast.Name)
                           and c.func.id in CKPT_PATHS
                           for c in ast.walk(n.value))}
        for call in ast.walk(fn):
            if not (isinstance(call, ast.Call)
                    and {"read", "write"} & set(_chain(call.func))):
                continue
            for arg in call.args + [k.value for k in call.keywords]:
                for n in ast.walk(arg):
                    if (isinstance(n, ast.Name) and n.id in tainted) or (
                            isinstance(n, ast.Call)
                            and isinstance(n.func, ast.Name)
                            and n.func.id in CKPT_PATHS):
                        hits.append(f"{fn.name}:{call.lineno}")
    assert hits == []


def test_run_resumable_executes_routed_once():
    """run_resumable parses through the commit core, commit_batch."""
    fn = next(f for f in _checkpoint_functions() if f.name == "commit_batch")
    uses = [n for n in ast.walk(fn) if isinstance(n, ast.Name)
            and n.id == "routed" and isinstance(n.ctx, ast.Load)]
    writes = [c.args[0] for c in ast.walk(fn) if isinstance(c, ast.Call)
              and isinstance(c.func, ast.Attribute)
              and c.func.attr == "fanout_write"
              and isinstance(c.func.value, ast.Name)
              and c.func.value.id == "route_ops"]
    assert len(writes) == 1 and uses == writes, \
        [n.lineno for n in uses]


SPARK_NAMES = {"spark", "df", "routed", "F", "pl", "SparkSession",
               "DataFrame"}


def _spark_refs(nodes: list[ast.AST], fns: dict[str, ast.FunctionDef],
                seen: set[str]) -> list[str]:
    """``name:line`` of every Spark name in ``nodes`` and in the checkpoint
    functions they call, transitively."""
    hits = []
    for n in nodes:
        if isinstance(n, ast.Name) and n.id in SPARK_NAMES:
            hits.append(f"{n.id}:{n.lineno}")
        elif (isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
              and n.func.id in fns and n.func.id not in seen):
            seen.add(n.func.id)
            hits += _spark_refs(list(ast.walk(fns[n.func.id])), fns, seen)
    return hits


def test_commit_batch_makes_no_spark_call_after_its_write():
    fns = {f.name: f for f in _checkpoint_functions()}
    fn = fns["commit_batch"]
    write = next(c for c in ast.walk(fn) if isinstance(c, ast.Call)
                 and getattr(c.func, "attr", None) == "fanout_write")
    after = [n for n in ast.walk(fn)
             if getattr(n, "lineno", 0) > write.end_lineno]
    assert after, "commit_batch ends at its write"
    assert _spark_refs(after, fns, set()) == []


def test_written_counts_takes_no_spark_session():
    fn = next(f for f in _checkpoint_functions()
              if f.name == "written_counts")
    assert [a.arg for a in fn.args.args + fn.args.kwonlyargs
            if a.arg == "spark" or "SparkSession" in ast.unparse(
                a.annotation or ast.Constant(""))] == []


def test_checkpoint_never_calls_spark_partition_id():
    assert [c.lineno for c in ast.walk(_checkpoint_tree())
            if isinstance(c, ast.Call)
            and "spark_partition_id" in (getattr(c.func, "attr", None),
                                         getattr(c.func, "id", None))] == []


def test_streams_write_and_meter_only_through_commit_core():
    with open(os.path.join(PKG, "streaming", "pipeline.py"),
              encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    assert [c.lineno for c in ast.walk(tree) if isinstance(c, ast.Call)
            and getattr(c.func, "attr", getattr(c.func, "id", None))
            in ("fanout_write", "collect")] == []
