"""Expected outputs, computed only from the DuckDB oracle.

Each registered oracle SQL runs against the workload's fixture directory and
its result is hashed with the order-insensitive value hash of
``scripts/driver_sim.py`` (sorted column names, sorted row reprs). Hashes
are cached under ``perfbench/.cache``; a cache entry is reused only while
the oracle SQL and the fixture files are unchanged.
"""

from __future__ import annotations

import hashlib
import json
import os

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def value_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(r)) for r in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def _fixture_stamp(sf_dir: str) -> str:
    parts = []
    for t in TABLES:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        parts.append(f"{t}:{st.st_size}:{int(st.st_mtime)}")
    return ";".join(parts)


def expected_hashes(
    oracles: dict[str, str], keys, sf_dir: str, cache_dir: str
) -> dict[str, str]:
    """``{key: hash}`` for every key that has an oracle."""
    os.makedirs(cache_dir, exist_ok=True)
    cache_path = os.path.join(cache_dir, f"expected-{os.path.basename(sf_dir)}.json")
    try:
        with open(cache_path, encoding="utf-8") as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    stamp = _fixture_stamp(sf_dir)
    out, con = {}, None
    for key in keys:
        if key not in oracles:
            continue
        sql_digest = hashlib.sha256(oracles[key].encode()).hexdigest()[:16]
        entry = cache.get(key)
        if entry and entry["sql"] == sql_digest and entry["fixtures"] == stamp:
            out[key] = entry["hash"]
            continue
        if con is None:
            import duckdb

            con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(sf_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out[key] = value_hash(con.sql(oracles[key]).df())
        cache[key] = {"sql": sql_digest, "fixtures": stamp, "hash": out[key]}
    if con is not None:
        con.close()
        tmp = f"{cache_path}.{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return out
