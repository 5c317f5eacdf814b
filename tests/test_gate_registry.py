"""Each gate is registered once, beside its oracle, in the ``gates``
package; ``__spark_entry__`` only orders them. Runs without Spark."""

from __future__ import annotations

import ast
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as E  # noqa: E402
from gates import REGISTRY, dedup, text, vector  # noqa: E402


def test_the_order_and_the_registry_name_the_same_gates():
    assert len(set(E.GATES)) == len(E.GATES)
    assert set(E.GATES) == set(REGISTRY)
    for name, (fn, _oracle) in REGISTRY.items():
        assert fn.__name__ == name
        assert fn.__module__.startswith("gates."), name


def test_bench_warmups_are_the_gates_own():
    # bench.py warms these through the entry module; the gates must
    # read the same caches
    assert E._shared_ivf_index is vector._shared_ivf_index
    assert E._shared_base_simhash is dedup._shared_base_simhash
    assert E._shared_lr_warmup is text._shared_lr_warmup


def test_importing_the_gates_computes_no_oracle():
    # executors import the family modules inside mapInPandas
    code = ("import __spark_entry__, gates.codecs as c; "
            "assert c._avc_oracle_rows.cache_info().currsize == 0")
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)


def test_no_gate_module_imports_the_entry_file():
    for path in sorted((ROOT / "gates").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            else:
                continue
            assert "__spark_entry__" not in mods, path.name
