"""Option budget and reachability for every engine module.

A public function that nothing outside ``tests/`` calls is code no
traffic runs, and a defaulted parameter that no caller passes is a
setting with one value in use: both only add branches nobody runs.
These tests collect the arguments passed at every call site in the
package, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py`` (matched by function name; a
``functools.partial(f, *a, **kw)`` binding counts as a call to ``f``
with those arguments). They fail on any public function or method of a
module under the package that no such call site reaches, unless a
registration looks it up (a ``@register`` query, or an entry in
``REGISTERED`` with its reason), and on any defaulted parameter no
call site passes, unless the setting is in ``KEPT`` with its reason.
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
    ("operators.indexing", "partitioned_prefix_sum", "num_partitions"):
        "property tests move the carry across 1-8 range partitions on inputs "
        "too small to get them by default",
    ("operators.indexing", "partitioned_prefix_extreme", "num_partitions"):
        "tests put NULL runs on range-partition boundaries of a 400-row input",
    ("operators.similarity", "cosine_all_pairs_exact", "block_rows"):
        "tests split a small frame into several blocks, the cross-block path "
        "production runs above 4096 rows",
}

# Public functions no call site names, because a registry looks them up.
REGISTERED = {
    ("operators.multimodal", "decode_auto"):
        "register_decoder installs it as the 'auto' media decoder at import; "
        "extract_features resolves decoders by that name",
}


def _modules():
    for path in sorted((ROOT / PKG).rglob("*.py")):
        if path.name != "__init__.py":
            yield ".".join(path.relative_to(ROOT / PKG).with_suffix("").parts), path


def _name(f):
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _calls_by_name(paths):
    """name -> list of (n_positional, keyword names, has *args, has **kwargs)."""
    calls = {}
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name, args = _name(node.func), node.args
            if name == "partial" and args:
                name, args = _name(args[0]), args[1:]
            if name is None:
                continue
            calls.setdefault(name, []).append((
                len(args),
                {k.arg for k in node.keywords if k.arg is not None},
                any(isinstance(a, ast.Starred) for a in args),
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


def _engine_calls():
    return _calls_by_name([
        *(ROOT / PKG).rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ])


def _public_defs():
    """(module, def node, is_method) for each public function of every
    module and each public method of its public classes."""
    for module, path in _modules():
        tree = ast.parse(path.read_text())
        defs = [(n, False) for n in tree.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for cls in tree.body:
            if isinstance(cls, ast.ClassDef) and not cls.name.startswith("_"):
                defs += [(n, True) for n in cls.body
                         if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for fn, is_method in defs:
            if not fn.name.startswith("_"):
                yield module, fn, is_method


def _is_registered_query(fn):
    return any(isinstance(d, ast.Call) and _name(d.func) == "register"
               for d in fn.decorator_list)


def uncalled_functions():
    engine = _engine_calls()
    return {
        (module, fn.name) for module, fn, _ in _public_defs()
        if fn.name not in engine and not _is_registered_query(fn)
    }


def unpassed_settings():
    engine = _engine_calls()
    hits = set()
    for module, fn, is_method in _public_defs():
        callers = engine.get(fn.name, ())
        for param, pos in _defaulted(fn, is_method):
            passed = any(
                param in kws or kwstar or (pos is not None and (star or n_pos > pos))
                for n_pos, kws, star, kwstar in callers)
            if not passed:
                hits.add((module, fn.name, param))
    return hits


def test_only_kept_settings_go_unpassed():
    hits = unpassed_settings()
    assert hits - set(KEPT) == set(), sorted(hits - set(KEPT))


def test_every_kept_setting_still_exists():
    assert set(KEPT) <= unpassed_settings(), sorted(set(KEPT) - unpassed_settings())


def test_every_public_function_has_a_caller_outside_tests():
    hits = uncalled_functions()
    assert hits - set(REGISTERED) == set(), sorted(hits - set(REGISTERED))
    assert set(REGISTERED) <= hits, sorted(set(REGISTERED) - hits)
