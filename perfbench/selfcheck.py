"""Self-checks of the benchmark's own machinery; no Spark needed.

- generator determinism: the same seed gives the same inputs, another
  seed gives other inputs
- span accounting: self times of a synthetic span tree add up to the
  root's wall time, and job coverage is clipped and de-overlapped

Run standalone with ``python3 perfbench/selfcheck.py`` from the repository
root; ``run.py`` runs the same checks before every measurement.
"""

from __future__ import annotations

import json
import math
import os
import sys

if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.dirname(here)]

from inputs import Inputs  # noqa: E402
from tracing import covered_ms, span_report  # noqa: E402


def _draw(seed: int) -> str:
    inp = Inputs(seed)
    out = {
        "bm25": [inp.bm25_query() for _ in range(30)],
        "msearch": inp.msearch_batch(),
        "dsl": [inp.draw(p) for p in (inp.qs_pool, inp.mf_pool, inp.aggs_pool,
                                      inp.count_pool) for _ in range(10)],
        "delete": inp.delete_terms[:10],
    }
    return json.dumps(out, sort_keys=True)


def generator_deterministic() -> bool:
    a, b, c = _draw(7), _draw(7), _draw(8)
    return a == b and a != c


def span_accounting() -> bool:
    spans = [
        {"id": 0, "name": "op", "parent": None, "op": 0, "start": 0.0, "end": 10.0,
         "spark": {"intervals": [(9.0, 9.5)], "jobs": 1}},
        {"id": 1, "name": "a", "parent": 0, "op": 0, "start": 1.0, "end": 4.0,
         "spark": {"intervals": [(1.5, 3.0), (2.0, 3.5)], "jobs": 2}},
        {"id": 2, "name": "b", "parent": 0, "op": 0, "start": 5.0, "end": 8.0,
         "spark": {"intervals": [(4.0, 6.0)], "jobs": 1}},
    ]
    rep = span_report(spans)
    self_total = sum(r["self_ms"] for r in rep.values())
    return (
        math.isclose(self_total, rep["op"]["wall_ms"])
        and math.isclose(rep["op"]["self_ms"], 4000.0)
        and math.isclose(rep["a"]["driver_ms"], 1000.0)  # 3 s minus 1.5..3.5
        and math.isclose(rep["b"]["driver_ms"], 2000.0)  # job clipped to 5..6
        # the op's own job and both children's: 1.5..3.5, 4..6 and 9..9.5
        and math.isclose(rep["op"]["driver_ms"], 10000.0 - 2000.0 - 2000.0 - 500.0)
        and rep["op"]["jobs"] == 4
        and math.isclose(covered_ms([(0.0, 2.0), (1.0, 3.0)], 0.5, 2.5), 2000.0)
    )


def run_all() -> dict[str, bool]:
    return {"selfcheck.generator_deterministic": generator_deterministic(),
            "selfcheck.span_accounting": span_accounting()}


if __name__ == "__main__":
    results = run_all()
    print(json.dumps(results))
    sys.exit(0 if all(results.values()) else 1)
