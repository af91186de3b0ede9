"""Static source lint (AST-based; ruff is not in the environment):

- F811: a top-level or class-level ``def``/``class`` that silently shadows
  an earlier identical-scope definition (a duplicated ``minhash_dedup_pairs``
  shipped in round 3 — this test keeps it from reappearing).
- F401: imports never referenced in the module (``__init__.py`` re-exports
  exempt).
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SOURCES = sorted(
    [
        *(REPO / "usearch_spark").rglob("*.py"),
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *(REPO / "tools").glob("*.py"),
    ]
)


def _redefinitions(tree: ast.Module) -> list[str]:
    """def/class names bound twice in the SAME suite (module body or class
    body).  Only direct children count: defs inside if/try branches are
    legitimate conditional definitions, not shadowing."""
    out = []

    def scan(body, scope):
        seen: set[str] = set()
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if node.name in seen:
                    out.append(f"{scope}{node.name} (line {node.lineno})")
                seen.add(node.name)
                if isinstance(node, ast.ClassDef):
                    scan(node.body, f"{scope}{node.name}.")

    scan(tree.body, "")
    return out


def _unused_imports(tree: ast.Module) -> list[str]:
    imported: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                name = a.asname or a.name.split(".")[0]
                imported[name] = node.lineno
        elif isinstance(node, ast.ImportFrom):
            if node.module == "__future__":
                continue
            for a in node.names:
                if a.name == "*":
                    continue
                imported[a.asname or a.name] = node.lineno
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            root = node
            while isinstance(root, ast.Attribute):
                root = root.value
            if isinstance(root, ast.Name):
                used.add(root.id)
    # names re-exported via __all__ count as used
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name) and t.id == "__all__" and isinstance(node.value, (ast.List, ast.Tuple)):
                    for elt in node.value.elts:
                        if isinstance(elt, ast.Constant) and isinstance(elt.value, str):
                            used.add(elt.value)
    return [f"{n} (line {ln})" for n, ln in imported.items() if n not in used]


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(REPO)))
def test_no_shadowed_defs_or_unused_imports(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    redefs = _redefinitions(tree)
    assert not redefs, f"shadowed definitions: {redefs}"
    if path.name != "__init__.py":  # __init__ imports are the public API
        unused = _unused_imports(tree)
        assert not unused, f"unused imports: {unused}"


# --- round-boundary lint -------------------------------------------------
# Every lifetime driver-red cell was the same defect class: F.round over a
# DOUBLE division, where the pre-round quotient can differ by 1 ulp between
# engines and the half-up decision then flips the last digit.  The fixed
# pattern is exact arithmetic on a decimal/integer numerator with an
# integer half-away bump (embedding_covariance, graph_modularity,
# text_bigram_logprob).  This lint freezes the legacy sites (each reviewed:
# they round far above their accumulated ulp, or quantize values that are
# exact multiples of the rounding step) and fails on ANY NEW
# ``F.round(<expr containing />, n)``.  The allow-list may only shrink —
# new code must compute the numerator exactly instead.
# Reviewed additions only: trigram_logprob repeats bigram_logprob's
# round(log(mix of count ratios), 6) — log of a ratio mix is
# transcendental, never at a decimal boundary, and the per-token values
# sum as exact decimals afterwards.  corpus_js_drift rounds a per-token
# JS term that is transcendental except when EXACTLY 0.0 (p == q folds
# through log2(1.0) == 0.0; a missing side is a CASE literal), so it
# never sits on a rounding boundary either; terms sum as exact decimals
# and the top-n ranking uses an exact-decimal key, not the floats.
#
# Round-11 shrink audit (harmonic_centrality CONVERTED to the exact
# integer fixed-point recipe — Σ lcm/d numerator, integer half-up
# quantization, one cast + one divide — and removed).  The survivors
# are irreducible, each for one of three reviewed reasons:
#   (a) transcendental log-of-ratio weights rounded far above ulp, on
#       identical operand chains both engines (corpus_js_drift,
#       trigram/bigram/unigram_logprob, winnow_pairs,
#       repetition_signals, and tfidf_cosine_pairs /
#       more_like_this whose flagged round is the idf weight
#       round(tf·ln(1+(N-df+.5)/(df+.5)), 8) — the log can't be made
#       integer);
#   (b) rounds whose pre-round quotient is ALREADY bit-identical
#       (exact-decimal numerators / correctly-rounded sqrt chains:
#       tfidf_cosine_pairs' cosine, zipf_fit's intercept) — the round
#       is belt-and-braces, not a boundary decision;
#   (c) quantize_int8, where round(val·127/scale) IS the operator's
#       semantic and val·127 (float32 mantissa + 7 bits) and scale are
#       exact doubles, so the single divide is bit-identical.
ROUND_OVER_DIV_ALLOWED = {
    ("usearch_spark/operators/text_analysis.py", "corpus_js_drift"),
    ("usearch_spark/operators/text_analysis.py", "trigram_logprob"),
    ("usearch_spark/operators/search.py", "more_like_this"),
    ("usearch_spark/operators/search.py", "tfidf_cosine_pairs"),
    ("usearch_spark/operators/similarity.py", "quantize_int8"),
    ("usearch_spark/operators/text_analysis.py", "winnow_pairs"),
    ("usearch_spark/operators/text_analysis.py", "repetition_signals"),
    ("usearch_spark/operators/text_analysis.py", "unigram_logprob"),
    ("usearch_spark/operators/text_analysis.py", "bigram_logprob"),
    ("usearch_spark/operators/text_analysis.py", "zipf_fit"),
}


def _round_over_div_sites(tree: ast.Module, relpath: str) -> list[str]:
    func_of: dict[ast.AST, str] = {}

    def assign(node: ast.AST, fname: str) -> None:
        for child in ast.iter_child_nodes(node):
            nf = child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ) else fname
            func_of[child] = nf
            assign(child, nf)

    assign(tree, "<module>")

    def has_div(node: ast.AST) -> bool:
        return any(
            isinstance(n, ast.BinOp) and isinstance(n.op, ast.Div)
            for n in ast.walk(node)
        )

    out = []
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "round"
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "F"
            and n.args
            and has_div(n.args[0])
            and (relpath, func_of.get(n, "<module>")) not in ROUND_OVER_DIV_ALLOWED
        ):
            out.append(f"{relpath}:{n.lineno} in {func_of.get(n, '<module>')}")
    return out


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(REPO)))
def test_no_new_round_over_double_division(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    sites = _round_over_div_sites(tree, str(path.relative_to(REPO)))
    assert not sites, (
        "F.round over a double division is the cross-engine red-cell class; "
        "compute the numerator exactly (decimal/integer units + half-away "
        f"integer division) instead: {sites}"
    )


PLAN_SOURCES = sorted((REPO / "usearch_spark" / "plans").glob("*.py"))


@pytest.mark.parametrize("path", PLAN_SOURCES, ids=lambda p: str(p.relative_to(REPO)))
def test_no_cache_in_plans(path):
    """Loop-invariant frames in plans/ use the eager localCheckpoint +
    release_local_checkpoint idiom, not .cache(): cached blocks linger
    until the caller's clearCache and re-enter the planner as
    InMemoryRelation (r15-verdict #8).  Operators with genuinely
    session-lived indexes (operators/search.py) are out of scope.  Any
    argument form counts: ``.persist(StorageLevel...)`` pins blocks the
    same way."""
    tree = ast.parse(path.read_text(), filename=str(path))
    sites = [
        f"{path.relative_to(REPO)}:{n.lineno}"
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("cache", "persist")
    ]
    assert not sites, f".cache()/.persist() in plans/ (use localCheckpoint + release): {sites}"


def _single_task_sites(tree: ast.Module) -> list[tuple[str, str, int]]:
    """(pattern, enclosing top-level function, line) for every call to
    ``mallopt``, ``gc.disable`` (any alias of ``gc``) or
    ``<df>.coalesce(1).mapInPandas`` in a module."""
    out = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for n in ast.walk(top):
            if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                continue
            f = n.func
            if f.attr == "mallopt":
                out.append(("mallopt", owner, n.lineno))
            elif f.attr == "disable" and isinstance(f.value, ast.Name) and "gc" in f.value.id:
                out.append(("gc.disable", owner, n.lineno))
            elif (
                f.attr == "mapInPandas"
                and isinstance(f.value, ast.Call)
                and isinstance(f.value.func, ast.Attribute)
                and f.value.func.attr == "coalesce"
                and [ast.dump(a) for a in f.value.args] == [ast.dump(ast.Constant(1))]
            ):
                out.append(("coalesce(1).mapInPandas", owner, n.lineno))
    return out


# the one single-task worker and its launcher (plans/iterative.py), and
# the one malloc-threshold helper (session.py)
SINGLE_TASK_HARNESS = {
    ("plans/iterative.py", "_single_task_worker"),
    ("plans/iterative.py", "local_task"),
    ("session.py", "_keep_malloc_heap"),
}


def test_single_task_prelude_lives_only_in_the_harness():
    """The single-task solves share ONE worker (plans/iterative.local_task):
    the malloc thresholds, the paused cyclic gc and the
    ``coalesce(1).mapInPandas`` launch may not be re-copied into a
    family module (ten hand-copied preludes preceded the harness)."""
    pkg = REPO / "usearch_spark"
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        for pattern, owner, line in _single_task_sites(ast.parse(path.read_text(), filename=str(path))):
            in_plans = rel.startswith("plans/")
            if (in_plans or pattern == "mallopt") and (rel, owner) not in SINGLE_TASK_HARNESS:
                sites.append(f"usearch_spark/{rel}:{line} {pattern} in {owner}")
    assert not sites, f"single-task worker code outside the harness (use plans.iterative.local_task): {sites}"
