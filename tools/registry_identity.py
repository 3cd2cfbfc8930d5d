"""Dump what identifies each registry entry: its Spark plan and its oracle's AST.

For every ``queries()`` entry (or only the names given) this prints

- the optimized logical plan of the Spark DataFrame, with every
  expression id (``#<n>``) stripped, and
- the DuckDB parse tree of its ``oracle_sql()`` twin, from
  ``json_serialize_sql``, with every ``query_location`` key removed so
  the tree is blind to whitespace and layout but not to literals.

Nothing is executed beyond what a builder itself runs while it is
constructed. Two dumps taken on two trees diff to the entries whose
plan or oracle changed, which is how a refactor of the query pack
proves it left both alone:

  python tools/registry_identity.py > before.txt   # on the old tree
  python tools/registry_identity.py > after.txt    # on the new tree
  diff before.txt after.txt

Usage: python tools/registry_identity.py [name ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry
from check_correctness import SF_DIR  # the oracle mirror's data directory
from kairos_spark import configured_builder

EXPR_ID = re.compile(r"#\d+L?")


def plan_text(df) -> str:
    """The optimized logical plan, expression ids stripped."""
    return EXPR_ID.sub("", df._jdf.queryExecution().optimizedPlan().toString())


def _drop_locations(node):
    if isinstance(node, dict):
        return {k: _drop_locations(v) for k, v in node.items() if k != "query_location"}
    if isinstance(node, list):
        return [_drop_locations(v) for v in node]
    return node


def oracle_ast(con, sql: str) -> str:
    """DuckDB's parse tree of `sql`, without source positions."""
    raw = con.execute("SELECT json_serialize_sql(?::VARCHAR)", [sql]).fetchone()[0]
    return json.dumps(_drop_locations(json.loads(raw)), sort_keys=True)


def main() -> int:
    only = set(sys.argv[1:])
    spark = (
        configured_builder("kairos_spark-registry-identity", cores=4)
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    oracles = entry.oracle_sql()
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        try:
            plan = plan_text(fn(spark, SF_DIR))
        except Exception as e:  # a builder that fails is itself a finding
            plan = f"ERROR {type(e).__name__}: {e}"
        ast = oracle_ast(con, oracles[name]) if name in oracles else "NONE"
        print(f"=== {name}\n--- plan\n{plan.rstrip()}\n--- oracle\n{ast}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
