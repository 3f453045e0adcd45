"""Option budget for the layers perfbench traces.

A defaulted parameter that no caller outside ``tests/`` passes is a setting
with one value in use: it only adds branches nobody runs. This test reads the
traced layers from ``perfbench/spans.py``, collects the arguments passed at
every call site in the package, ``tools/``, ``perfbench/`` and ``bench.py``
(matched by function name), and fails on any public function or method of a
traced module with a defaulted parameter no such call passes, unless the
setting is in ``KEPT`` with its reason.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "fraud_detection_project_spark"

KEPT = {
    ("session", "get_spark", "master"): "tests size their sessions with it",
    ("session", "get_spark", "shuffle_partitions"): "tests size their sessions with it",
    ("operators.graph", "pagerank", "local_threshold_edges"):
        "tests force the distributed path, which production runs above 32M edges",
    ("operators.dedup", "ngram_jaccard_pairs", "max_shingle_df"):
        "tests reach the hot-shingle guard with it",
    ("operators.joins", "binned_range_join", "bin_width"):
        "property tests check the binning law at chosen widths",
    ("operators.joins", "interval_overlap_join", "bin_width"):
        "property tests check the binning law at chosen widths",
    ("operators.windows", "ewma_bounded", "precision"):
        "tests compare unrounded values; forced rounding would loosen them",
}


def _traced_layers():
    tree = ast.parse((ROOT / "perfbench" / "spans.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "LAYERS" for t in node.targets):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/spans.py defines no LAYERS")


def _caller_files():
    yield from (ROOT / PKG).rglob("*.py")
    yield from (ROOT / "tools").rglob("*.py")
    yield from (ROOT / "perfbench").rglob("*.py")
    yield ROOT / "bench.py"


def _calls_by_name():
    """name -> list of (n_positional, keyword names, has *args, has **kwargs)."""
    calls = {}
    for path in _caller_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            if name is None:
                continue
            star = any(isinstance(a, ast.Starred) for a in node.args)
            calls.setdefault(name, []).append((
                len(node.args),
                {k.arg for k in node.keywords if k.arg is not None},
                star,
                any(k.arg is None for k in node.keywords),
            ))
    return calls


def _defaulted(fn, is_method):
    """(name, positional index or None) for each defaulted parameter of ``fn``."""
    a = fn.args
    positional = a.posonlyargs + a.args
    skip = 1 if is_method and not any(
        isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list) else 0
    first = len(positional) - len(a.defaults)
    out = [(p.arg, i - skip) for i, p in enumerate(positional) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def unpassed_settings():
    calls = _calls_by_name()
    hits = set()
    for layer in _traced_layers():
        tree = ast.parse((ROOT / PKG / (layer.replace(".", "/") + ".py")).read_text())
        defs = [(n, False) for n in tree.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for cls in tree.body:
            if isinstance(cls, ast.ClassDef) and not cls.name.startswith("_"):
                defs += [(n, True) for n in cls.body
                         if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for fn, is_method in defs:
            if fn.name.startswith("_"):
                continue
            for param, pos in _defaulted(fn, is_method):
                passed = any(
                    param in kws or kwstar or (pos is not None and (star or n_pos > pos))
                    for n_pos, kws, star, kwstar in calls.get(fn.name, ()))
                if not passed:
                    hits.add((layer, fn.name, param))
    return hits


def test_only_kept_settings_go_unpassed():
    hits = unpassed_settings()
    assert hits - set(KEPT) == set(), sorted(hits - set(KEPT))


def test_every_kept_setting_still_exists():
    assert set(KEPT) <= unpassed_settings(), sorted(set(KEPT) - unpassed_settings())
