"""tools/scale_probe.py: every entry runs end to end at 1x and 2x on
the test fixture with its checks passing, plus unit tests of the
exponent fit and the disjoint replicator."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from tools.scale_probe import ENTRIES, fit_exponent, replicate, run


def test_fit_exponent_needs_two_distinct_multiples():
    assert fit_exponent([(4, 1.0)]) is None
    assert fit_exponent([(4, 1.0), (4, 3.0)]) is None


def test_fit_exponent_is_one_on_linear_points():
    assert fit_exponent([(m, 0.3 * m) for m in (1, 2, 8, 32)]) == pytest.approx(1.0)


def test_disjoint_replicator_grows_vocabulary_and_keeps_ids_unique(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )

    def census(k: int) -> dict:
        d = replicate(docs, k, ids=("doc_id",), text="text")
        row = d.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("doc_id").alias("ids"),
        ).first()
        tokens = d.select(F.explode(F.split("text", " ")).alias("t"))
        return {
            **row.asDict(),
            "distinct_tokens": tokens.distinct().count(),
            "unsuffixed_tokens": tokens.filter(~F.col("t").rlike("_[0-9]+$")).count(),
        }

    one, three = census(1), census(3)
    assert one["ids"] == one["rows"] and three["ids"] == three["rows"]
    assert three["rows"] == 3 * one["rows"]
    assert three["distinct_tokens"] == 3 * one["distinct_tokens"]
    # the suffix applies at 1x too, so 1x is the same workload as k x
    assert one["unsuffixed_tokens"] == 0


@pytest.mark.parametrize("name", sorted(ENTRIES))
def test_scale_probe_entry_passes_its_checks(spark, sf_dir, name):
    records, summary = run(spark, name, sf_dir, [1, 2], out=lambda rec: None)
    assert {r["mult"] for r in records} == {1, 2}
    assert summary["ok"], summary
