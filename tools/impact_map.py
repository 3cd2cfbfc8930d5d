"""Mechanized helper→query promotion map (VERDICT r12 #2).

The rotation rule in CLAUDE.md says: any registry entry whose Spark
expression (or oracle SQL) CHANGED since its last green driver check
must be promoted into the next driver window. Through r12 that
promotion set was assembled by hand from memory — the r11 signed-zero
change initially missed 8 owners that way. This tool computes it
statically:

1. A call graph over every ``kairos_spark`` module (AST walk: bare
   names resolve to same-module defs and from-imports; ``mod.attr``
   resolves through module aliases). Deliberately OVER-approximating —
   a false positive is one extra driver re-check, a false negative is
   a silent gate risk.
2. Query → entry function via a runtime import of
   ``kairos_spark.queries`` (authoritative, survives registry
   reshuffles), then transitive closure through the graph.
3. Oracle spans: each ORACLES key is mapped to the SOURCE TEXT of its
   SQL expression (dict literals + ``ORACLES[k] =`` assigns), plus any
   helper functions the oracle expression calls (e.g. ``_sql_surgery``,
   the ``kairos_spark.exact`` SQL builders) and, through the graph,
   whatever those helpers call.
4. Per-query baseline: the latest round whose CORRECTNESS_r{N}.json
   shows the query green; the code the driver ran that round is the
   tree at the ``round N: verdict/...`` artifact commit (it only adds
   artifact files on top of the round's last code commit). A def (or
   oracle expression) counts as CHANGED iff its extracted source
   segment at the baseline ref differs textually from HEAD's — NOT a
   line-diff, because the per-round registry reorder moves thousands
   of lines and a line-based diff flags every moved-but-identical
   block. A query is promotion-needed iff its closure or its oracle
   changed relative to ITS OWN baseline.

Usage:
  python tools/impact_map.py helper NAME [NAME ...]
      # queries whose Spark expressions or oracle builders transit any
      # def named NAME (e.g. an exact.py kernel or its SQL builder)
  python tools/impact_map.py promote
      # the driver-window promotion set for the next round
  python tools/impact_map.py closure QUERY
      # debug: the resolved (module, def) closure of one query
"""

from __future__ import annotations

import ast
import json
import os
import re
import subprocess
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG = os.path.join(REPO, "kairos_spark")


# --------------------------------------------------------------------------
# module table: top-level defs (functions, classes, assigns) + imports
# --------------------------------------------------------------------------

def _pkg_files():
    for root, _dirs, files in os.walk(PKG):
        if "__pycache__" in root:
            continue
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _modname(path):
    rel = os.path.relpath(path, REPO)[:-3].replace(os.sep, ".")
    return rel[:-9] if rel.endswith(".__init__") else rel


def _segment(lines, node):
    """Exact source segment from PRE-SPLIT lines (keepends=True) —
    ast.get_source_segment re-splits the whole source per call, which
    is quadratic over a 600 KB queries.py with ~700 defs."""
    s, e = node.lineno - 1, node.end_lineno - 1
    if s == e:
        return lines[s][node.col_offset:node.end_col_offset]
    return (
        lines[s][node.col_offset:]
        + "".join(lines[s + 1:e])
        + lines[e][:node.end_col_offset]
    )


def _def_sources_from(src, tree=None):
    """name -> exact source segment for every top-level def/class/assign."""
    tree = tree or ast.parse(src)
    lines = src.splitlines(keepends=True)
    out = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[node.name] = _segment(lines, node)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            seg = _segment(lines, node)
            for t in targets:
                if isinstance(t, ast.Name):
                    # a name assigned more than once (e.g. QUERIES built
                    # then rebuilt): concatenate so ANY assign changing
                    # marks the def changed
                    out[t.id] = (out.get(t.id, "") + "\n" + (seg or "")).strip()
    return out


def _oracle_sources_from(src, tree=None):
    """oracle key -> concatenated source text of every string-keyed dict
    value and every ``ORACLES[key] = ...`` RHS carrying that key.
    Over-approximates (same-named keys in unrelated dicts concatenate) —
    acceptable: worst case is one extra driver re-check."""
    tree = tree or ast.parse(src)
    lines = src.splitlines(keepends=True)
    out = defaultdict(list)
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            for k, v in zip(node.keys, node.values):
                if (
                    isinstance(k, ast.Constant)
                    and isinstance(k.value, str)
                    and not isinstance(v, ast.Name)  # QUERIES maps to fn Names
                ):
                    out[k.value].append(_segment(lines, v))
        elif isinstance(node, ast.Assign) and len(node.targets) == 1:
            t = node.targets[0]
            if (
                isinstance(t, ast.Subscript)
                and isinstance(t.value, ast.Name)
                and t.value.id == "ORACLES"
                and isinstance(t.slice, ast.Constant)
            ):
                out[t.slice.value].append(_segment(lines, node.value))
    return {k: "\n---\n".join(v) for k, v in out.items()}


class _Module:
    def __init__(self, path, src, tree):
        self.path = path
        self.src = src
        self.name = _modname(path)
        self.tree = tree
        self.defs = {}        # local def name -> (start, end)
        self.def_nodes = {}   # local def name -> AST node
        self.import_mods = {}  # alias -> module name
        self.import_names = {}  # alias -> (module name, original name)


def _load_modules():
    mods = {}
    for path in _pkg_files():
        with open(path) as f:
            src = f.read()
        tree = ast.parse(src)
        m = _Module(path, src, tree)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                m.defs[node.name] = (node.lineno, node.end_lineno)
                m.def_nodes[node.name] = node
            elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    if isinstance(t, ast.Name):
                        m.defs.setdefault(t.id, (node.lineno, node.end_lineno))
                        m.def_nodes.setdefault(t.id, node)
        is_pkg = os.path.basename(path) == "__init__.py"
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    m.import_mods[a.asname or a.name.split(".")[0]] = a.name
            elif isinstance(node, ast.ImportFrom):
                if node.level == 0:
                    src_mod = node.module
                else:
                    # resolve relative: a plain module's package is its
                    # parent; each extra level climbs one more
                    parts = m.name.split(".")
                    if not is_pkg:
                        parts = parts[:-1]
                    parts = parts[: len(parts) - (node.level - 1)]
                    src_mod = ".".join(
                        parts + ([node.module] if node.module else [])
                    )
                if not src_mod:
                    continue
                for a in node.names:
                    # `from kairos_spark.operators import text` imports a MODULE
                    m.import_names[a.asname or a.name] = (src_mod, a.name)
                    m.import_mods.setdefault(
                        a.asname or a.name, f"{src_mod}.{a.name}"
                    )
        mods[m.name] = m
    return mods


# --------------------------------------------------------------------------
# call graph: (module, def) -> set of (module, def) it references
# --------------------------------------------------------------------------

def _build_graph(mods):
    graph = defaultdict(set)

    def resolve(mod, name):
        """bare name inside `mod` -> (module, def) or None"""
        if name in mod.defs:
            return (mod.name, name)
        if name in mod.import_names:
            src, orig = mod.import_names[name]
            srcmod = mods.get(src)
            if srcmod and orig in srcmod.defs:
                return (src, orig)
        return None

    for mod in mods.values():
        for dname, node in mod.def_nodes.items():
            key = (mod.name, dname)
            for sub in ast.walk(node):
                if isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Load):
                    tgt = resolve(mod, sub.id)
                    if tgt and tgt != key:
                        graph[key].add(tgt)
                elif isinstance(sub, ast.Attribute) and isinstance(sub.value, ast.Name):
                    alias = sub.value.id
                    target_mod = mods.get(mod.import_mods.get(alias, ""))
                    if target_mod and sub.attr in target_mod.defs:
                        tgt = (target_mod.name, sub.attr)
                        if tgt != key:
                            graph[key].add(tgt)
    return graph


def _closure(graph, roots):
    seen = set(roots)
    stack = list(roots)
    while stack:
        cur = stack.pop()
        for nxt in graph.get(cur, ()):
            if nxt not in seen:
                seen.add(nxt)
                stack.append(nxt)
    return seen


# --------------------------------------------------------------------------
# registry: query name -> entry (module, def); oracle helper references
# --------------------------------------------------------------------------

def _load_registry(mods):
    import kairos_spark.queries as q

    entries = {}
    for name, fn in q.QUERIES.items():
        entries[name] = (fn.__module__, fn.__name__)

    # helper functions referenced inside oracle value expressions
    # (e.g. _sql_surgery, _facility_oracle, the exact.py SQL builders)
    # — a change there changes the oracle even when the literal text at
    # the key is unchanged. Imported names resolve to their defining
    # module's def.
    qmod = mods["kairos_spark.queries"]
    helpers = defaultdict(set)

    def record_helpers(keyname, value):
        for sub in ast.walk(value):
            if isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Load):
                if sub.id in qmod.defs:
                    helpers[keyname].add((qmod.name, sub.id))
                elif sub.id in qmod.import_names:
                    src, orig = qmod.import_names[sub.id]
                    if src in mods and orig in mods[src].defs:
                        helpers[keyname].add((src, orig))

    for node in ast.walk(qmod.tree):
        if isinstance(node, ast.Dict):
            for k, v in zip(node.keys, node.values):
                if isinstance(k, ast.Constant) and isinstance(k.value, str):
                    if k.value in q.ORACLES and not isinstance(v, ast.Name):
                        record_helpers(k.value, v)
        elif isinstance(node, ast.Assign) and len(node.targets) == 1:
            t = node.targets[0]
            if (
                isinstance(t, ast.Subscript)
                and isinstance(t.value, ast.Name)
                and t.value.id == "ORACLES"
                and isinstance(t.slice, ast.Constant)
            ):
                record_helpers(t.slice.value, node.value)
    return entries, helpers, set(q.ORACLES)


# --------------------------------------------------------------------------
# git: per-round baseline refs and segment-level change detection
# --------------------------------------------------------------------------

def _git(*args):
    return subprocess.check_output(
        ["git", "-C", REPO, *args], text=True, stderr=subprocess.DEVNULL
    )


def _round_refs():
    out = _git("log", "--format=%H %s")
    refs = {}
    for line in out.splitlines():
        m = re.match(r"([0-9a-f]{40}) round (\d+): verdict", line)
        if m:
            refs.setdefault(int(m.group(2)), m.group(1))
    return refs


def _last_green_round():
    """query -> latest round N with a green CORRECTNESS_r{N} entry."""
    last = {}
    for fname in sorted(os.listdir(REPO)):
        m = re.match(r"CORRECTNESS_r(\d+)\.json\Z", fname)
        if not m:
            continue
        n = int(m.group(1))
        try:
            data = json.load(open(os.path.join(REPO, fname)))
        except Exception:
            continue  # e.g. a truncated artifact — skip that round
        for qname, res in data.items():
            green = res.get("err") is None and res.get("rows_match") and (
                res.get("hash_match") is not False
            )
            if green and n > last.get(qname, -1):
                last[qname] = n
    return last


def _changed_vs(ref, mods):
    """-> (changed (module, def) set, changed-oracle-key set) comparing
    each def's / oracle expression's SOURCE SEGMENT at `ref` vs HEAD."""
    changed = set()
    oracle_changed = set()
    head_defs_cache = {}
    for mod in mods.values():
        rel = os.path.relpath(mod.path, REPO)
        if mod.name not in head_defs_cache:
            head_defs_cache[mod.name] = _def_sources_from(mod.src, mod.tree)
        head_defs = head_defs_cache[mod.name]
        try:
            old_src = _git("show", f"{ref}:{rel}")
            old_defs = _def_sources_from(old_src)
        except (subprocess.CalledProcessError, SyntaxError):
            changed |= {(mod.name, d) for d in mod.defs}
            if mod.name == "kairos_spark.queries":
                oracle_changed |= set(_oracle_sources_from(mod.src, mod.tree))
            continue
        for d in mod.defs:
            if old_defs.get(d) != head_defs.get(d):
                changed.add((mod.name, d))
        if mod.name == "kairos_spark.queries":
            new_o = _oracle_sources_from(mod.src, mod.tree)
            old_o = _oracle_sources_from(old_src)
            for k, seg in new_o.items():
                if old_o.get(k) != seg:
                    oracle_changed.add(k)
    return changed, oracle_changed


# --------------------------------------------------------------------------
# commands
# --------------------------------------------------------------------------

def main(argv):
    mods = _load_modules()
    graph = _build_graph(mods)
    entries, ohelpers, oracle_names = _load_registry(mods)

    cmd = argv[1] if len(argv) > 1 else "promote"

    if cmd == "helper":
        targets = set(argv[2:])
        if not targets:
            print("usage: impact_map.py helper NAME [NAME ...]")
            return 2
        all_defs = {(m.name, d) for m in mods.values() for d in m.defs}
        hit_defs = {(m, d) for (m, d) in all_defs if d in targets}
        if not hit_defs:
            print(f"no defs named {sorted(targets)} found")
            return 1
        print("resolved:", sorted(hit_defs))
        owners = []
        for qname, root in sorted(entries.items()):
            if (_closure(graph, {root}) | _closure(graph, ohelpers[qname])) & hit_defs:
                owners.append(qname)
        print(f"{len(owners)} queries (Spark side or oracle) transit {sorted(targets)}:")
        for qname in owners:
            print(" ", qname)
        return 0

    if cmd == "closure":
        qname = argv[2]
        for m, d in sorted(_closure(graph, {entries[qname]})):
            print(f"  {m}.{d}")
        return 0

    if cmd != "promote":
        print(__doc__)
        return 2

    refs = _round_refs()
    last = _last_green_round()
    latest_round = max(refs)

    changed_cache = {}

    def changed_for(round_n):
        if round_n not in changed_cache:
            changed_cache[round_n] = _changed_vs(refs[round_n], mods)
        return changed_cache[round_n]

    never_checked = sorted(set(entries) - set(last))
    promote = {}
    for qname, root in sorted(entries.items()):
        if qname not in last:
            continue
        base = last[qname]
        if base not in refs:
            base = min(refs)  # defensive: unknown round -> oldest ref
        cdefs, coracles = changed_for(base)
        reasons = []
        hit = _closure(graph, {root}) & cdefs
        if hit:
            reasons.append(
                "spark expression transits changed defs: "
                + ", ".join(
                    sorted(f"{m.split('.')[-1]}.{d}" for m, d in sorted(hit)[:8])
                )
                + (" …" if len(hit) > 8 else "")
            )
        if qname in coracles:
            reasons.append("oracle SQL source changed")
        ohit = _closure(graph, ohelpers.get(qname, set())) & cdefs
        if ohit:
            reasons.append(
                "oracle builder helper changed: "
                + ", ".join(sorted(d for _m, d in ohit))
            )
        if reasons:
            promote[qname] = (base, reasons)

    print("# impact_map promotion report (HEAD vs per-query last green driver round)")
    print(f"# rounds with driver artifacts: r{min(refs)}..r{latest_round}")
    print()
    print(f"## never driver-checked ({len(never_checked)}) — always promote")
    for qname in never_checked:
        print(f"  {qname}")
    print()
    print(f"## expression-changed since last green check ({len(promote)})")
    for qname, (base, reasons) in sorted(promote.items()):
        print(f"  {qname}  (last green r{base})")
        for r in reasons:
            print(f"      - {r}")
    # entries that are green AND unchanged — the tail-recheck pool,
    # oldest first, so a window's group (4) is also tool-derivable
    stale = sorted(
        (last[qname], qname)
        for qname in entries
        if qname in last and qname not in promote
    )
    print()
    print(f"## green and unchanged — tail-recheck pool, oldest first ({len(stale)})")
    for base, qname in stale:
        print(f"  {qname}  (last green r{base})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
