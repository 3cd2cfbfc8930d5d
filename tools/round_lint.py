"""Mechanical lint for the exact-rational rounding invariant.

CLAUDE.md forbids bare ``F.round`` over an aggregate whose value can be
an exact rational (count ratios, means of fixed-decimal inputs): such
values land EXACTLY on 7th-decimal midpoints where Spark's
shortest-string round and DuckDB's multiply-round split (the class that
flipped chao1_richness in r6 and threatened bootstrap_ci_mean /
ts_series_transforms_hour in r7/r8). Ratios must go through the
``_round6_ratio*`` family, fixed points through ``_round6_bridge``.

This lint flags every ``F.round(F.avg(...)`` / ``F.round(F.sum(...)``
site in the operator library and query layer. A site passes if:

- the round SCALE is < 6 (the monetary round-2/round-4 class: inputs
  are >= 2dp-fixed, so the rounded digit position has no midpoint), or
- the rounded expression is already DECIMAL-quantized on the same line
  (``decimal(`` in the match — exact HALF_UP on identical decimals), or
- a comment within the 6 preceding lines contains the word ``exempt``
  (the annotation convention: state WHY — full-precision doubles,
  6dp-exact identity, etc. — so the next sweep stays mechanical).

Everything else is a finding and the exit code is 1. Run it whenever a
new query or operator lands; the oracle twin follows the Spark side by
the mirror invariant, so linting the Spark side suffices.

The oracle side has one rule of its own: every kernel's DuckDB mirror
lives once, as a SQL builder in ``kairos_spark/exact.py``, so a string
literal of ``kairos_spark/queries.py`` (adjacent literals joined) must
not spell one out by hand — an opened ratio expansion (``((2000000``,
``((-2000000``, with or without ``::HUGEINT``), the bridge's
``DECIMAL(27,12)), 6)`` or the signed-cents ``floor(-CAST(``.

A third rule keeps each pipeline stage in one home: no block of
``BLOCK_LINES`` code lines may occur ``BLOCK_COPIES`` or more times
under ``kairos_spark/``. Lines are compared stripped; blank,
comment-only, import and <= 3-character lines (``),``, closing quotes)
are skipped, so a copy re-indented or re-wrapped around a comment is
still a copy. A repeated stage belongs in one builder: a private helper
in its operator module, or an oracle-stage builder in ``queries.py``.

A fourth rule keeps relation resolution in one home: a ``.read``
attribute (``spark.read``, ``self.spark.read``) appears under
``kairos_spark/`` only in ``READ_HOME``, whose ``resolved`` holds each
relation once per session, so no new path lists files and infers a
schema again on every call. Comments, strings and ``.read(...)`` calls
(a file handle's) do not count.
"""

from __future__ import annotations

import io
import re
import sys
import tokenize
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent / "kairos_spark"

# F.round(F.avg(...) or F.round(F.sum(...) — matched against the WHOLE
# file text so the call style where the aggregate sits on the line after
# F.round( (exactly the multi-line shape the old post_stratified_mean
# bug had) is not silently skipped (ADVICE r8). \s spans newlines.
PATTERN = re.compile(r"F\.round\(\s*F\.(avg|sum)\(")
# ADVICE r9 closed a second hole: bare F.round over percentile() — the
# interpolated percentile of exact-rational inputs (integer-µs
# latencies/gaps, exact slope rationals) is itself an exact rational
# and lands on 7th-decimal midpoints exactly like a count ratio
# (conversion_latency's p50 carried this latently until r10). Every
# F.round whose balanced extent contains percentile( is now a finding
# under the same exemption rules.
PCT = re.compile(r"F\.round\(")
SCALE = re.compile(r",\s*([0-9]+)\s*\)\s*$")
# hand-typed kernel mirrors in oracle SQL (see the module docstring)
ORACLES_PY = ROOT / "queries.py"
HAND_TYPED = re.compile(
    r"\(\(\s*-?2000000"  # an opened ratio expansion
    r"|DECIMAL\(27,12\)\),\s*6\)"  # the round-6 bridge
    r"|floor\(-CAST\("  # the signed-cents negative branch
)
# a string token: prefix, quotes, body
LITERAL = re.compile(r"([rRfFbBuU]*)('''|\"\"\"|'|\")(.*)\2\Z", re.S)
# the repeated-block rule (see the module docstring)
BLOCK_LINES = 8
BLOCK_COPIES = 3
# the one module allowed a session's .read (see the module docstring)
READ_HOME = "kairos_spark/sources/tables.py"


def call_extent(text: str, start: int) -> str:
    """The full F.round(...) call from `start`: balance parens from the
    first '(' (string literals with parens don't occur at these sites;
    on imbalance, fall back to the rest of the file — conservative)."""
    i = text.index("(", start)
    depth = 0
    for j in range(i, len(text)):
        if text[j] == "(":
            depth += 1
        elif text[j] == ")":
            depth -= 1
            if depth == 0:
                return text[start : j + 1]
    return text[start:]


def call_scale(call: str) -> int | None:
    """Scale literal of the round call: the trailing ', N)' of the
    balanced extent (None when the scale is omitted or non-literal —
    treated as scale 6, the conservative default)."""
    hit = SCALE.search(call)
    return int(hit.group(1)) if hit else None


def literal_runs(text: str):
    """Each run of adjacent string literals, as a list of (line, body)
    pieces: implicit concatenation is one run, so a mirror split across
    literals is still one match."""
    run = []
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type == tokenize.STRING:
            run.append((tok.start[0], LITERAL.match(tok.string).group(3)))
        elif tok.type not in (tokenize.NL, tokenize.COMMENT) and run:
            yield run
            run = []
    if run:
        yield run


def hand_typed_mirrors(text: str) -> list[tuple[int, str]]:
    """(line, match) of each string literal in `text` that spells out a
    kernel instead of calling its kairos_spark.exact SQL builder."""
    out = []
    for run in literal_runs(text):
        joined = "".join(body for _line, body in run)
        for m in HAND_TYPED.finditer(joined):
            offset = m.start()
            for line, body in run:
                if offset < len(body):
                    break
                offset -= len(body)
            out.append((line + body.count("\n", 0, offset), m.group(0)))
    return out


def code_lines(text: str) -> list[tuple[int, str]]:
    """(line number, stripped text) of each line the block rule compares."""
    out = []
    for lineno, raw in enumerate(text.splitlines(), 1):
        line = raw.strip()
        if len(line) <= 3 or line.startswith(("#", "import ", "from ")):
            continue
        out.append((lineno, line))
    return out


def repeated_blocks(sources: dict[str, str]) -> list[tuple[int, list[tuple[str, int]]]]:
    """Each maximal block of >= BLOCK_LINES code lines that occurs
    BLOCK_COPIES or more times in `sources` ({name: text}), as
    (block length in code lines, [(name, first line) of each copy])."""
    code = {name: code_lines(text) for name, text in sources.items()}
    where = defaultdict(list)
    for name, lines in code.items():
        for k in range(len(lines) - BLOCK_LINES + 1):
            window = tuple(line for _lineno, line in lines[k : k + BLOCK_LINES])
            where[window].append((name, k))
    copies = {tuple(occ) for occ in where.values() if len(occ) >= BLOCK_COPIES}
    blocks = []
    for occ in copies:
        if tuple((name, k - 1) for name, k in occ) in copies:
            continue  # not the first window of its run
        run = 1
        while tuple((name, k + run) for name, k in occ) in copies:
            run += 1
        blocks.append(
            (run + BLOCK_LINES - 1, [(name, code[name][k][0]) for name, k in occ])
        )
    return sorted(blocks, key=lambda block: block[1])


def stray_reads(sources: dict[str, str]) -> list[tuple[str, int]]:
    """(name, line) of each ``.read`` attribute in `sources` ({name:
    text}) outside READ_HOME; a call ``.read(...)`` is not one."""
    skip = {tokenize.NL, tokenize.NEWLINE, tokenize.COMMENT, tokenize.INDENT, tokenize.DEDENT}
    out = []
    for name, text in sources.items():
        if name == READ_HOME:
            continue
        toks = [t for t in tokenize.generate_tokens(io.StringIO(text).readline) if t.type not in skip]
        for dot, attr, after in zip(toks, toks[1:], toks[2:]):
            if dot.string == "." and attr.type == tokenize.NAME and attr.string == "read" and after.string != "(":
                out.append((name, attr.start[0]))
    return out


def main() -> int:
    sources = {
        str(path.relative_to(ROOT.parent)): path.read_text()
        for path in sorted(ROOT.rglob("*.py"))
    }
    reads = stray_reads(sources)
    if reads:
        print(f"round_lint: a session's .read outside {READ_HOME} (resolve the "
              "relation through its held-relation registry instead):")
        for name, line in reads:
            print(f"  {name}:{line}")
    blocks = repeated_blocks(sources)
    if blocks:
        print(f"round_lint: blocks of >= {BLOCK_LINES} code lines repeated "
              f">= {BLOCK_COPIES} times (give the stage one builder):")
        for size, occ in blocks:
            print(f"  {size} lines x {len(occ)}: "
                  + ", ".join(f"{name}:{line}" for name, line in occ))
    rel = ORACLES_PY.relative_to(ROOT.parent)
    mirrors = [
        f"{rel}:{line}: {hit}" for line, hit in hand_typed_mirrors(ORACLES_PY.read_text())
    ]
    if mirrors:
        print("round_lint: hand-typed kernel mirrors in oracle SQL (call the "
              "SQL builders in kairos_spark.exact instead):")
        for f in mirrors:
            print(" ", f)
    findings = []
    for path in sorted(ROOT.rglob("*.py")):
        text = path.read_text()
        lines = text.splitlines()
        hits = {m.start(): m for m in PATTERN.finditer(text)}
        for m in PCT.finditer(text):
            if m.start() in hits:
                continue
            if "percentile" in call_extent(text, m.start()):
                hits[m.start()] = m
        for start in sorted(hits):
            m = hits[start]
            lineno = text.count("\n", 0, m.start()) + 1
            if lines[lineno - 1].lstrip().startswith("#"):
                continue
            call = call_extent(text, m.start())
            scale = call_scale(call)
            if scale is not None and scale < 6:
                continue
            # DECIMAL-routed is only safe when the ROUNDED expression is
            # still a decimal: round(sum(decimal), 6) is HALF_UP on
            # identical decimals in both engines. If the call also casts
            # to double (sum(decimal)->double / n — a derived MEAN), the
            # round is back on a double quotient, the exact midpoint
            # class impute_median/winsorize carried latently until r9.
            if "decimal(" in call.lower() and "double" not in call.lower():
                continue
            ctx = " ".join(lines[max(0, lineno - 7) : lineno - 1]).lower()
            if "exempt" in ctx:
                continue
            findings.append(
                f"{path.relative_to(ROOT.parent)}:{lineno}: "
                f"{lines[lineno - 1].strip()}"
            )
    if findings:
        print("round_lint: UNEXPLAINED F.round-over-aggregate sites "
              "(route exact rationals through _round6_ratio*, or add an "
              "'exempt' comment with the reason within 6 lines above):")
        for f in findings:
            print(" ", f)
    if findings or mirrors or blocks or reads:
        return 1
    print("round_lint: clean — every F.round(F.avg|F.sum) site is "
          "scale<6, DECIMAL-routed, or carries an exempt annotation, "
          "every oracle calls the kairos_spark.exact SQL builders, "
          f"no code block is repeated, and only {READ_HOME} reads")
    return 0


if __name__ == "__main__":
    sys.exit(main())
