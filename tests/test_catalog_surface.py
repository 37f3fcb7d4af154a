"""The catalog's surface, pinned against a golden file.

``catalog_surface.json`` lists every registered entry in registration
order with its tier, whether it declares a fixture stage, and the
sha256 of its oracle SQL and of its note. An oracle may name the
scratch root, which ``SPARK_GRAFT_SCRATCH`` sets, so it is hashed as
``$SCRATCH``. A refactor of how entries are built must leave all of it
unchanged: the driver samples in registration order and grades against
the oracle text.

Regenerate the golden file (only for an intended surface change) with
``python -m tests.test_catalog_surface``.
"""

from __future__ import annotations

import hashlib
import json
import os

from simple_data_engineering_project_spark import plans
from simple_data_engineering_project_spark.plans.catalog import SCRATCH

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_surface.json")


def _sha(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(text.encode()).hexdigest()


def surface() -> list[dict]:
    return [
        {
            "name": q.name,
            "tier": q.tier,
            "stage": q.stage is not None,
            "oracle_sha256": _sha(
                q.oracle and q.oracle.replace(SCRATCH, "$SCRATCH")
            ),
            "note_sha256": _sha(q.note),
        }
        for q in plans.catalog().values()
    ]


def test_catalog_surface_matches_golden():
    with open(GOLDEN) as f:
        golden = json.load(f)
    got = surface()
    assert [e["name"] for e in got] == [e["name"] for e in golden]
    for g, e in zip(got, golden):
        assert g == e, g["name"]


if __name__ == "__main__":
    with open(GOLDEN, "w") as f:
        json.dump(surface(), f, indent=1)
        f.write("\n")
