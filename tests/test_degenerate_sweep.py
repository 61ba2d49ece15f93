"""Degenerate-dataset sweep: every registered operator must RUN on a
pathological minimum corpus (3 rows per table, broken FK edges, sparse
time series). Catches the ANSI-mode crash class the r10 review surfaced
— divide-by-zero on data-dependent denominators, casts of no-match
regexp extracts, empty sequence() bounds — that the committed fixtures
(dense, well-formed) can never exercise.

The full 204-operator sweep costs ~5 min, so it runs only when
SPARK_GRAFT_SWEEP=1 (CI opt-in); a curated always-on subset pins the
operators this class of bug has actually bitten.
"""

import os

import duckdb
import pytest


@pytest.fixture(scope="module")
def degen_sf(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen"))
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"COPY (SELECT * FROM '/root/testdata/sf0.001/{t}.parquet' "
            f"LIMIT 3) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    return out


# the ops r10's probes actually caught (plus their family neighbors):
# sequence bounds, zero-variance divides, single-class AUC, rank windows
_ALWAYS = [
    "interpolate_missing",
    "corr_stats",
    "spearman_corr",
    "ols_two_feature",
    "auc_score",
    "sessionize_native",
    "theil_sen_slope",
    "drift_ks",
    "percentile_summary",
    "anomaly_mad",
    "retention_cohorts",
    "m4_downsample",
    # r10 second session: review caught an unguarded ANSI divide in the
    # fertility ratio (zero BPE tokens in a lang group)
    "tokenizer_fertility",
]


def _run(spark, names, sf):
    import __spark_entry__ as E

    from hls_payer_mrf_sparkstreaming_spark.operators import dedup

    dedup.EDGE_CACHE.clear()
    failures = []
    qs = E.queries()
    for name in names:
        try:
            qs[name](spark, sf).collect()
        except Exception as exc:  # noqa: BLE001 — collecting the report
            failures.append((name, str(exc).split("\n")[0][:140]))
    dedup.EDGE_CACHE.clear()
    assert not failures, failures


def test_bitten_ops_run_on_minimum_corpus(spark, degen_sf):
    _run(spark, _ALWAYS, degen_sf)


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SWEEP") != "1",
    reason="full 204-operator sweep is CI opt-in (SPARK_GRAFT_SWEEP=1)",
)
def test_every_operator_runs_on_minimum_corpus(spark, degen_sf):
    import __spark_entry__ as E

    _run(spark, list(E.queries()), degen_sf)
