"""Untimed DuckDB-oracle comparison at sf0.01.

Runs registry queries from ``__spark_entry__`` against their
``oracle_sql()`` twins over seed-generated sf0.01-shaped ``documents``
and ``embeddings`` tables, and compares them the way
``tools/check_correctness.py`` does: its ``normalize``, then column
names, row count and values (atol 1e-6).
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pandas as pd

import gen

SF001_DOCS, SF001_VECS = 500, 500  # the stored sf0.01 tables' row counts


def _normalize(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def compare(spark, root: str, names: list[str], sf_dir: str, seed: int) -> list[tuple[str, str]]:
    """→ [(query name, "" when it matches, else why not)]."""
    import __spark_entry__ as entry

    gen.write_doc_tables(sf_dir, seed, SF001_DOCS, SF001_VECS)
    normalize = _normalize(root)
    queries, oracles = entry.queries(), entry.oracle_sql()
    out = []
    with duckdb.connect() as con:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in names:
            s = normalize(queries[name](spark, sf_dir).toPandas())
            o = normalize(con.execute(oracles[name]).df())
            if list(s.columns) != list(o.columns):
                out.append((name, f"columns {list(s.columns)} vs {list(o.columns)}"))
            elif len(s) != len(o):
                out.append((name, f"rowcount {len(s)} vs {len(o)}"))
            elif len(s) == 0:
                out.append((name, "no rows"))
            else:
                try:
                    pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=False,
                                                  atol=1e-6)
                    out.append((name, ""))
                except AssertionError as e:
                    out.append((name, "value mismatch: " + str(e).splitlines()[0]))
    return out
