"""Workload definitions: a fixed, committed key list and scale per workload.

The seed given on the command line only permutes the order in which a
workload's keys run in the warm rounds; the cold pass takes them in the
order listed here, and the fixtures themselves are read-only.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # fixture directory name, e.g. "sf0.1"
    keys: tuple[str, ...]
    smoke: tuple[str, ...]  # the keys ``--smoke`` runs, at sf0.001
    why: str


# Three of bench.py's HEADLINE keys whose execution outweighs their build:
# the q1 (exact-decimal pricing summary) and q3 (top-k) shapes and a
# distinct count.
HEADLINE = (
    "agg_pricing_summary",
    "limit_topk",
    "agg_count_distinct",
)

# The cheapest key of each of 10 query modules: execution takes tens of ms,
# so Python build work dominates.
MODULES = (
    "filter_between_in",  # filters
    "fn_uuid_deterministic",  # functions_scalar
    "join_inner_equi",  # joins
    "text_html_strip",  # llm_text
    "sample_source_mixture",  # pipeline
    "etl_partition_checksum",  # scans
    "sql_identifier_dynamic",  # sorts_sets
    "orders_hill_tail_index",  # timeseries
    "text_instruction_format",  # training
    "win_count_distinct",  # windows
)

# Connected components: eager jobs and a checkpoint per round inside the
# build. The round count, not the data, sets its cost.
ITERATIVE = ("dedup_connected_components",)

# Writes staged output and reads it back: the Cassandra-to-Solr pipeline
# through the connector emulations, and a CSV round trip.
MIGRATION = (
    "etl_migration_pipeline",
    "source_csv_roundtrip",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "headline",
            "sf0.1",
            HEADLINE,
            HEADLINE,
            "bench.py keys at sf0.1 whose execution outweighs their build: "
            "exec, kernel and dsum changes show here",
        ),
        Workload(
            "breadth",
            "sf0.01",
            MODULES + ITERATIVE + MIGRATION,
            ("filter_between_in",) + ITERATIVE + MIGRATION[:1],
            "build-bound keys at sf0.01: one per query module, connected "
            "components and the migration writes",
        ),
    )
}
