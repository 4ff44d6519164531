"""Gate-order checks.

The driver's correctness gate checks the first 50 entries of
__spark_entry__.queries().  registry.GATE_ORDER alone decides them:
load_all() returns those names first and every other name sorted after
them, whatever order the query modules were imported in.
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

import __spark_entry__
from bigbugdata_spark.registry import GATE_ORDER

N_QUERIES = 221
N_ORACLES = 215


def test_gate_order_leads_and_every_gated_query_has_an_oracle():
    names = list(__spark_entry__.queries())
    oracles = __spark_entry__.oracle_sql()
    assert names[: len(GATE_ORDER)] == list(GATE_ORDER)
    assert len(GATE_ORDER) == 50
    missing = [n for n in GATE_ORDER if n not in oracles]
    assert not missing, f"gated queries without an oracle: {missing}"
    assert len(names) == N_QUERIES
    assert len(oracles) == N_ORACLES


# A query module imported before load_all() registers its queries first;
# the gate order must not depend on that.
_EARLY_IMPORT = """
import json
import bigbugdata_spark.operators.tpch
import __spark_entry__
print(json.dumps(list(__spark_entry__.queries())[:50]))
"""


def test_gate_order_survives_an_early_module_import():
    out = subprocess.run(
        [sys.executable, "-c", _EARLY_IMPORT],
        capture_output=True,
        text=True,
        cwd=str(pathlib.Path(__file__).resolve().parents[1]),
        check=True,
        timeout=300,
    )
    assert json.loads(out.stdout.strip().splitlines()[-1]) == list(GATE_ORDER)
