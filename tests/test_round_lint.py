"""tools/round_lint.py runs clean over the tree, and its oracle rule
catches a hand-typed kernel mirror however the literal is split."""

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def lint():
    spec = importlib.util.spec_from_file_location(
        "round_lint", os.path.join(REPO, "tools", "round_lint.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_round_lint_clean(lint):
    assert lint.main() == 0


def test_hand_typed_mirrors_flagged(lint):
    src = (
        'A = """\n'
        "SELECT floor((2000000 * n + d) / (2.0 * d)) / 1000000.0 AS r,\n"
        "       CAST(( 2000000::HUGEINT * n + d) // (2::HUGEINT * d) AS BIGINT)\n"
        '"""\n'
        'B = ("CAST(round(CAST(x AS DECIMAL(27,12)),"\n'
        '     " 6) AS DOUBLE)")\n'
        'C = f"ELSE -CAST(floor(-CAST({v} AS DOUBLE)*100 + 0.5) AS BIGINT) END"\n'
        'D = "SELECT 2000000 + id AS id, x / 2000000 AS y"\n'
        "# floor((2000000 * n + d) in a comment is not oracle SQL\n"
    )
    assert [line for line, _hit in lint.hand_typed_mirrors(src)] == [2, 3, 5, 7]
