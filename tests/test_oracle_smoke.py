"""Always-on oracle smoke: the benchmark's keys and ``bench.py``'s headline
keys against the DuckDB oracle at sf0.001, in the default suite.

The full-registry parity battery (``test_oracle.py``) is opt-in (``slow``);
these keys cover a key of each query module, connected components, the
migration writes and all twelve ``bench.py`` keys, so a wrong answer from a
shared layer (the fixture reads, the connectors, the session confs, the
exact-decimal sums) fails the default run. ``sim_knn_per_query`` rides
along: it is the exact side the rows-only ANN keys' recall tests compare
against.
"""

from __future__ import annotations

import pytest

from bench import HEADLINE
from perfbench.workloads import WORKLOADS
from tests.conftest import SF_SMOKE, assert_matches_oracle
from trireme_spark import registry

KEYS = sorted(
    {k for w in WORKLOADS.values() for k in w.keys}
    | set(HEADLINE)
    | {"sim_knn_per_query"}
)


@pytest.mark.parametrize("key", KEYS)
def test_benchmark_key_matches_oracle(spark, key):
    df = registry.QUERIES[key](spark, SF_SMOKE)
    assert_matches_oracle(df, registry.ORACLES[key], SF_SMOKE)
