"""operators/store.py: the one generational-store protocol (pointer,
write lock, generations, pins, tombstones, rebuild, vacuum) under the
IVF, IVFPQ and postings stores — a source guard that no store module
restates it."""

from __future__ import annotations

import ast
import pathlib

OPERATORS = (
    pathlib.Path(__file__).resolve().parents[1] / "python_openetl_spark" / "operators"
)


def test_store_protocol_lives_only_in_store_module():
    offenders = []
    for path in sorted(OPERATORS.rglob("*.py")):
        if path.name == "store.py":
            continue
        text = path.read_text()
        for needle in (
            "__tomb_seq",
            "_current.json",
            "_write.lock",
            "_seq.json",
            "_schema.json",
        ):
            if needle in text:
                offenders.append(f"operators/{path.name}: {needle}")
    assert offenders == []


def test_stores_take_no_protocol_name_from_ivf_store():
    """postings_store imports no private name from ivf_store, and
    ivfpq_store only the IVF cell layout the two vector stores share
    (the cell-pruned reader, the sealed write, the delta append, the
    centroid reader): every protocol name comes from store.py."""
    shared_layout = {
        "_append_delta",
        "_load_assigned",
        "_read_centroids",
        "_write_sealed",
    }
    for name, allowed in (("postings_store", set()), ("ivfpq_store", shared_layout)):
        tree = ast.parse((OPERATORS / f"{name}.py").read_text())
        private = {
            alias.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            and node.module == "python_openetl_spark.operators.ivf_store"
            for alias in node.names
            if alias.name.startswith("_")
        }
        assert private <= allowed, (name, sorted(private - allowed))
