"""Guards for tools/impact_map.py — the mechanized promotion map
(VERDICT r12 #2). The r11 signed-zero episode is the regression being
pinned: 8 owners of a changed shared helper skipped the driver
re-check queue when the set was assembled by hand. The tool must
resolve helper ownership through relative imports and module aliases,
and its segment extractor must match ast.get_source_segment exactly
(it replaces it for speed)."""

import ast
import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def im():
    spec = importlib.util.spec_from_file_location(
        "impact_map", os.path.join(REPO, "tools", "impact_map.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def loaded(im):
    mods = im._load_modules()
    graph = im._build_graph(mods)
    entries, ohelpers, oracle_names = im._load_registry(mods)
    return mods, graph, entries, ohelpers, oracle_names


def test_segment_matches_get_source_segment(im):
    src = (
        "x = 1\n"
        "def f(a,\n"
        "      b):\n"
        "    return {'k': (a +\n"
        "                  b)}\n"
        "ORACLES = {}\n"
        "ORACLES['q'] = f(1,\n"
        "                 2)\n"
    )
    tree = ast.parse(src)
    lines = src.splitlines(keepends=True)
    for node in ast.walk(tree):
        if hasattr(node, "lineno") and hasattr(node, "end_lineno"):
            want = ast.get_source_segment(src, node)
            if want is not None:
                assert im._segment(lines, node) == want


def test_registry_covers_every_query(loaded):
    _mods, _graph, entries, _oh, oracle_names = loaded
    import kairos_spark.queries as q

    assert set(entries) == set(q.QUERIES)
    # every oracle key maps back to a registered query
    assert oracle_names <= set(q.QUERIES)


def test_signed_ratio_owners_resolved_through_relative_imports(loaded):
    """The r11 episode: _round6_ratio_signed lives in kairos_spark/exact.py
    and is used via function-local and module imports across the
    operators — the owner set must include entries from every import
    style."""
    mods, graph, entries, _oh, _on = loaded
    all_defs = {(m.name, d) for m in mods.values() for d in m.defs}
    hits = {
        (m, d)
        for (m, d) in all_defs
        if d in {"_round6_ratio_signed", "_round6_ratio_dec_signed"}
    }
    assert hits, "helper defs not found"
    owners = {
        qname
        for qname, root in entries.items()
        if im_closure(graph, root) & hits
    }
    # the 8 r11 skipped owners plus the 2 promoted by hand in r11
    expected = {
        "rfm_segments",
        "bootstrap_ci_mean",
        "post_stratified_mean",
        "langid_kappa",
        "embedding_moments",
        "rp_distortion",
        "ts_series_transforms_hour",
        "json_props_stats",
        "period_delta",
        "theilsen_trend",
    }
    missing = expected - owners
    assert not missing, f"owner set missed: {missing}"


def im_closure(graph, root):
    seen = {root}
    stack = [root]
    while stack:
        cur = stack.pop()
        for nxt in graph.get(cur, ()):
            if nxt not in seen:
                seen.add(nxt)
                stack.append(nxt)
    return seen


def test_oracle_sources_stable_on_identical_source(im):
    path = os.path.join(REPO, "kairos_spark", "queries.py")
    with open(path) as f:
        src = f.read()
    a = im._oracle_sources_from(src)
    b = im._oracle_sources_from(src)
    assert a == b and len(a) > 300


def test_changed_vs_head_commit_sees_worktree_only(im, tmp_path, monkeypatch):
    """Against HEAD, changed defs are exactly the uncommitted worktree
    edits: none on a clean tree. Runs against a throwaway repository,
    so the suite needs no git checkout of its own."""
    import subprocess

    pkg = tmp_path / "kairos_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "util.py").write_text("def f():\n    return 1\n\n\ndef g():\n    return 2\n")
    (pkg / "queries.py").write_text('ORACLES = {"q1": "SELECT 1", "q2": "SELECT 2"}\n')
    for args in (["init", "-q"], ["add", "-A"], ["commit", "-q", "-m", "seed"]):
        subprocess.run(
            ["git", "-C", str(tmp_path), "-c", "user.name=t", "-c", "user.email=t@example.com", *args],
            check=True, capture_output=True,
        )
    monkeypatch.setattr(im, "REPO", str(tmp_path))
    monkeypatch.setattr(im, "PKG", str(pkg))

    assert im._changed_vs("HEAD", im._load_modules()) == (set(), set())
    (pkg / "util.py").write_text("def f():\n    return 1\n\n\ndef g():\n    return 3\n")
    (pkg / "queries.py").write_text('ORACLES = {"q1": "SELECT 1", "q2": "SELECT 3"}\n')
    changed, oracle_changed = im._changed_vs("HEAD", im._load_modules())
    assert changed == {("kairos_spark.util", "g"), ("kairos_spark.queries", "ORACLES")}
    assert oracle_changed == {"q2"}


def test_oracle_builder_owners_resolved_through_imports(loaded):
    """An oracle calls the exact.py SQL builders by imported name, some
    through a queries.py helper function: a change to a builder must
    flag every oracle that emits it."""
    _mods, graph, _entries, ohelpers, _on = loaded

    def owners(name):
        target = ("kairos_spark.exact", name)
        return {q for q, hs in ohelpers.items() if target in im_closure_of(graph, hs)}

    assert "q1_pricing_summary" in owners("round6_ratio_sql")
    # via _qte_oracle(), a helper function the ORACLES entry calls
    assert "qte_deciles" in owners("round6_ratio_dec_signed_sql")


def im_closure_of(graph, roots):
    seen = set()
    for root in roots:
        seen |= im_closure(graph, root)
    return seen
