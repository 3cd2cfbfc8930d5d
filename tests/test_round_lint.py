"""tools/round_lint.py runs clean over the tree, its oracle rule catches
a hand-typed kernel mirror however the literal is split, its block
rule catches a stage pasted three times however it is indented, and its
read rule catches a session's ``.read`` outside sources/tables.py."""

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


def test_repeated_block_flagged(lint):
    stage = "\n".join(f"    x{i} = step(x{i - 1}, {i})" for i in range(1, 10))

    def copy(indent):
        return "\n".join(indent + line.strip() for line in stage.split("\n"))

    sources = {
        # the same 9-line stage three times: re-indented, with a comment,
        # a blank line and a short line inside one copy (none of which count)
        "a.py": "def f():\n" + stage + "\n",
        "b.py": "def g():\n" + copy("        ").replace("x4 =", "# why\n\n)\nx4 ="),
        "c.py": "import os\n" + copy(""),
        # two copies only: below the rule's threshold
        "d.py": "\n".join(f"y{i} = other({i})" for i in range(12)),
        "e.py": "\n".join(f"y{i} = other({i})" for i in range(12)),
    }
    assert lint.repeated_blocks(sources) == [(9, [("a.py", 2), ("b.py", 2), ("c.py", 2)])]


def test_stray_read_flagged(lint):
    sources = {
        lint.READ_HOME: "df = spark.read.parquet(p)\n",
        "kairos_spark/a.py": (
            "df = self.spark.read.schema(s).parquet(p)\n"
            "reader = (spark\n"
            "          .read)\n"
        ),
        # a file handle's read(), a comment, a string and readStream pass
        "kairos_spark/b.py": (
            "text = fh.read()\n"
            "# spark.read in a comment\n"
            "s = 'spark.read'\n"
            "q = spark.readStream.load(p)\n"
        ),
    }
    assert lint.stray_reads(sources) == [("kairos_spark/a.py", 1), ("kairos_spark/a.py", 3)]
