"""Aggregates are a function of their input rows, not of how the rows
are partitioned: a query must return bit-identical rows whatever the
partition count of its input.

``brand_yoy_revenue`` at sf0.01 holds a true half-cent tie (Brand#4,
1998: exact revenue 21890697.4750), where a double sum lands on either
side of the tie depending on the summation order (hash-partitioned
by ``l_orderkey``, a double sum rounds it to .48 at 1 partition and to
.47 at 4 and 7).
"""

from __future__ import annotations

import __spark_entry__ as entry_mod
import data_pipeline_childcare_spark as eng

SF01 = "/root/testdata/sf0.01"


def _with_table(monkeypatch, name, df):
    """Serve ``df`` for table ``name`` through the registry's loader."""
    table = entry_mod._t

    def t(spark_, sf_dir, name_, spread=True):
        return df if name_ == name else table(spark_, sf_dir, name_, spread)

    monkeypatch.setattr(entry_mod, "_t", t)


def test_brand_yoy_revenue_is_partition_invariant(spark, monkeypatch):
    def run(n_partitions):
        lineitem = eng.load_table(spark, "lineitem", SF01).repartition(
            n_partitions, "l_orderkey"
        )
        _with_table(monkeypatch, "lineitem", lineitem)
        return entry_mod.brand_yoy_revenue(spark, SF01).collect()

    runs = {n: run(n) for n in (1, 4, 7)}
    assert runs[1], "the query returned no rows"
    # Row equality on doubles is bit equality (no NaN in these rows)
    assert runs[4] == runs[1]
    assert runs[7] == runs[1]
    tie = [
        r["revenue"] for r in runs[1]
        if r["p_brand"] == "Brand#4" and r["ship_year"] == 1998
    ]
    assert tie == [21890697.48]  # HALF_UP of the exact .4750


def test_doc_curation_pipeline_is_partition_invariant(spark, monkeypatch):
    """Every curation flag and metric, ``quality`` and ``contamination``
    included, is the same whether ``documents`` arrives in 1, 4 or 7
    round-robin partitions."""

    def run(n_partitions):
        docs = eng.load_table(spark, "documents", SF01).repartition(n_partitions)
        _with_table(monkeypatch, "documents", docs)
        rows = entry_mod.doc_curation_pipeline(spark, SF01).collect()
        return sorted(rows, key=lambda r: r["doc_id"])

    runs = {n: run(n) for n in (1, 4, 7)}
    assert len(runs[1]) == 500
    assert any(r["kept"] for r in runs[1]) and not all(r["kept"] for r in runs[1])
    assert runs[4] == runs[1]
    assert runs[7] == runs[1]
