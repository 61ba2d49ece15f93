"""Silver/gold pipeline tests against the synthetic MRF fixture and the
CMS sample shapes (gold query parity with 01_payer_mrf_demo.py:229-238).
"""

import json

import pytest
from pyspark.sql import functions as F

from hls_payer_mrf_sparkstreaming_spark.plans.silver import build_silver


@pytest.fixture(scope="module")
def tables(spark, mrf_file):
    return build_silver(spark, mrf_file, chunktargetbytes=8192)


def test_header_merges(tables):
    h = tables.header.collect()
    merged = {}
    for r in h:
        merged.update({k: v for k, v in r.asDict().items() if v is not None})
    assert merged["reporting_entity_name"] == "synthetic payer"
    assert merged["version"] == "1.0.0"


def test_counts_match_source(tables, mrf_file):
    doc = json.load(open(mrf_file))
    assert tables.in_network.count() == len(doc["in_network"])
    assert tables.provider_references.count() == len(doc["provider_references"])
    n_rates = sum(len(i["negotiated_rates"]) for i in doc["in_network"])
    assert tables.rates.count() == n_rates
    n_prices = sum(
        sum(
            1
            for p in r["negotiated_prices"]
            if p["negotiated_type"] == "negotiated"
        )
        for i in doc["in_network"]
        for r in i["negotiated_rates"]
    )
    assert tables.prices.count() == n_prices
    n_groups = sum(
        len(p.get("provider_groups", [])) for p in doc["provider_references"]
    )
    assert tables.providers_x_payer.count() == n_groups


def test_surrogate_keys_join_consistent(tables):
    # every price row joins back to exactly one code row
    joined = tables.prices.join(tables.codes, "sk_in_network_id").count()
    assert joined == tables.prices.count()
    # rate keys unique
    assert (
        tables.rates.select("sk_rate_id").distinct().count()
        == tables.rates.count()
    )


def test_gold_shoppable_price(tables, mrf_file):
    doc = json.load(open(mrf_file))
    # pick a (billing_code, tin) pair guaranteed to hit via provider_references
    target = None
    provider_tins = {
        p["provider_group_id"]: [
            g["tin"]["value"] for g in p.get("provider_groups", [])
        ]
        for p in doc["provider_references"]
    }
    for item in doc["in_network"]:
        for r in item["negotiated_rates"]:
            for ref in r.get("provider_references", []):
                if provider_tins.get(ref) and any(
                    p["negotiated_type"] == "negotiated"
                    for p in r["negotiated_prices"]
                ):
                    target = (item["billing_code"], provider_tins[ref][0])
                    break
            if target:
                break
        if target:
            break
    assert target, "fixture must contain a referenced provider with a price"
    billing_code, tin = target
    rows = tables.shoppable_price(billing_code, tin).collect()
    assert rows
    for r in rows:
        assert r["billing_code"] == billing_code
        assert r["tin"]["value"] == tin
        assert r["negotiated_rate"] > 0


def test_gold_on_cms_sample(spark, cms_samples):
    tables = build_silver(spark, cms_samples["ffs"], chunktargetbytes=1024)
    # billing code 27448 rate 12003.45 is linked via provider_reference id 1,
    # whose two provider groups carry tins 11-1111111 and 22-2222222
    for tin in ["11-1111111", "22-2222222"]:
        rows = tables.shoppable_price("27448", tin).collect()
        assert len(rows) == 1
        assert rows[0]["negotiated_rate"] == 12003.45
        assert rows[0]["tin"]["value"] == tin
    # 27447 only has inline provider_groups (no provider_references) -> empty
    assert tables.shoppable_price("27447", "11-1111111").count() == 0


def _chained_shoppable_price(codes, providers_x_payer, billing_code, tin_value):
    """The gold query as the chain of DataFrame calls it used to be built
    from: the reference the one-statement SQL form must match row for
    row."""
    proc = codes.filter(
        (F.col("billing_code") == billing_code)
        & (F.col("negotiation_arrangement") == "ffs")
    )
    price_refs = (
        proc.select(
            "billing_code",
            "description",
            F.explode("negotiated_rates").alias("nr"),
        )
        .select(
            "billing_code",
            "description",
            F.col("nr.provider_references").alias("refs"),
            F.explode("nr.negotiated_prices").alias("price"),
        )
        .filter(F.col("price.negotiated_type") == "negotiated")
        .select(
            "billing_code",
            "description",
            F.col("price.billing_class").alias("billing_class"),
            F.col("price.billing_code_modifier").alias(
                "billing_code_modifier"
            ),
            F.col("price.service_code").alias("service_code"),
            F.col("price.negotiated_rate").alias("negotiated_rate"),
            F.explode("refs").alias("provider_reference_id"),
        )
    )
    provider = providers_x_payer.filter(F.col("tin.value") == tin_value)
    return price_refs.join(
        F.broadcast(provider),
        F.col("provider_reference_id") == F.col("provider_group_id"),
    ).select(
        "billing_code",
        "description",
        "billing_class",
        "billing_code_modifier",
        "service_code",
        "negotiated_rate",
        "npi",
        "tin",
    )


def _row_multiset(df):
    from collections import Counter

    return Counter(
        json.dumps(r.asDict(recursive=True), sort_keys=True)
        for r in df.collect()
    )


def _gold_edge_cases_doc():
    """One in-network file with every shape the gold query filters on."""

    def price(rate, negotiated_type="negotiated"):
        return {
            "negotiated_type": negotiated_type,
            "negotiated_rate": rate,
            "expiration_date": "2026-01-01",
            "service_code": ["11"],
            "billing_class": "professional",
            "billing_code_modifier": ["26"],
        }

    def item(code, arrangement, rates, description="item"):
        return {
            "negotiation_arrangement": arrangement,
            "name": description,
            "billing_code_type": "CPT",
            "billing_code_type_version": "2025",
            "billing_code": code,
            "description": description,
            "negotiated_rates": rates,
        }

    def group(tin, npi):
        return {"npi": [npi], "tin": {"type": "ein", "value": tin}}

    return {
        "reporting_entity_name": "edge payer",
        "reporting_entity_type": "payer",
        "provider_references": [
            {"provider_group_id": 1, "provider_groups": [group("11-1", 1)]},
            {"provider_group_id": 2, "provider_groups": [group("22-2", 2)]},
            {"provider_group_id": 3, "provider_groups": [group("11-1", 3)]},
        ],
        "in_network": [
            # a derived price next to a negotiated one, and one code priced
            # for two TINs (refs 1 and 2) plus a second group of TIN 11-1
            item("100", "ffs", [
                {
                    "provider_references": [1, 2],
                    "negotiated_prices": [price(10.0), price(9.0, "derived")],
                },
                {
                    "provider_references": [3],
                    "negotiated_prices": [price(12.5)],
                },
                # a rate with no provider references unfolds to nothing
                {"provider_references": [], "negotiated_prices": [price(1.0)]},
            ]),
            # not ffs, same code: never priced by the gold query
            item("100", "capitation", [
                {"provider_references": [1], "negotiated_prices": [price(7.0)]}
            ], "capitation twin"),
            # an item with no rates at all
            item("200", "ffs", None),
            item("300", "ffs", [
                {"provider_references": [2], "negotiated_prices": [price(30.0)]}
            ]),
        ],
        "version": "1.0.0",
    }


def test_gold_sql_matches_dataframe_chain(spark, cms_samples, tmp_path):
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        shoppable_price,
    )

    edge = str(tmp_path / "gold_edge_cases.json")
    with open(edge, "w") as f:
        json.dump(_gold_edge_cases_doc(), f, indent=1)
    hits = 0
    for path in [*cms_samples.values(), edge]:
        t = build_silver(spark, path, chunktargetbytes=1024)
        codes, pxp = t.codes.cache(), t.providers_x_payer.cache()
        billing_codes = {r[0] for r in codes.select("billing_code").collect()}
        tins = {r[0] for r in pxp.select("tin.value").collect()}
        pairs = [(c, tin) for c in billing_codes for tin in tins]
        pairs += [("no-such-code", next(iter(tins))),
                  (next(iter(billing_codes)), "no-such-tin")]
        for billing_code, tin in pairs:
            chained = _chained_shoppable_price(codes, pxp, billing_code, tin)
            want = _row_multiset(chained)
            gold = shoppable_price(codes, pxp, billing_code, tin)
            assert gold.schema == chained.schema
            assert _row_multiset(gold) == want, (path, billing_code, tin)
            if "no-such" in billing_code + tin:
                assert not want, (path, billing_code, tin)
            hits += bool(want)
        # the lookups left the caller's cached frames cached
        assert codes.storageLevel.useMemory and pxp.storageLevel.useMemory
        codes.unpersist()
        pxp.unpersist()
    assert hits >= 4
    # the edge file (the loop's last tables), its answers spelled out: code
    # 100 at TIN 11-1 is the negotiated price of ref 1 and of ref 3; the
    # derived price, the capitation twin and the unreferenced rate add
    # nothing
    got = sorted(
        (r["negotiated_rate"], r["npi"][0])
        for r in t.shoppable_price("100", "11-1").collect()
    )
    assert got == [(10.0, 1), (12.5, 3)]
    rows = t.shoppable_price("100", "22-2").collect()
    assert [r["negotiated_rate"] for r in rows] == [10.0]
    assert t.shoppable_price("200", "11-1").count() == 0


def test_gold_parameters_are_data_and_leave_no_views(spark, cms_samples):
    from pyspark.errors import AnalysisException

    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        shoppable_price,
    )

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    t = build_silver(spark, cms_samples["ffs"], chunktargetbytes=1024)
    assert t.shoppable_price("27448", "11-1111111").count() == 1
    injected = "' OR '1'='1"
    assert t.shoppable_price(injected, "11-1111111").count() == 0
    assert t.shoppable_price("27448", injected).count() == 0
    assert t.shoppable_price(injected, injected).count() == 0
    # a codes frame without negotiated_rates fails analysis inside the
    # statement; its temp views are dropped all the same
    with pytest.raises(AnalysisException):
        shoppable_price(
            t.codes.drop("negotiated_rates"),
            t.providers_x_payer,
            "27448",
            "11-1111111",
        )
    assert temp_views() == before


def test_repeated_billing_code_keys_unique(spark, tmp_path):
    """Real CMS files repeat a billing code across in_network items; the
    surrogate key must stay per-row unique or prices cross-link (the old
    billing-column hash collided)."""
    item = {
        "negotiation_arrangement": "ffs",
        "name": "A",
        "billing_code_type": "CPT",
        "billing_code_type_version": "2025",
        "billing_code": "27447",
        "description": "first occurrence",
        "negotiated_rates": [
            {
                "provider_references": [1],
                "negotiated_prices": [
                    {
                        "negotiated_type": "negotiated",
                        "negotiated_rate": 100.0,
                        "expiration_date": "2026-01-01",
                        "billing_class": "professional",
                    }
                ],
            }
        ],
    }
    dup = dict(item, name="B", description="same code, different item")
    dup["negotiated_rates"] = [
        {
            "provider_references": [1],
            "negotiated_prices": [
                {
                    "negotiated_type": "negotiated",
                    "negotiated_rate": 200.0,
                    "expiration_date": "2026-01-01",
                    "billing_class": "institutional",
                }
            ],
        }
    ]
    doc = {
        "reporting_entity_name": "p",
        "reporting_entity_type": "payer",
        "provider_references": [
            {
                "provider_group_id": 1,
                "provider_groups": [
                    {"npi": [1234567890], "tin": {"type": "ein", "value": "11-1"}}
                ],
            }
        ],
        "in_network": [item, dup],
        "version": "1.0.0",
    }
    p = str(tmp_path / "dupcode.json")
    with open(p, "w") as f:
        json.dump(doc, f, indent=1)
    t = build_silver(spark, p, chunktargetbytes=1024)
    keys = [r["sk_in_network_id"] for r in t.codes.collect()]
    assert len(keys) == 2 and len(set(keys)) == 2
    # each price stays linked to its own item, not fanned across both
    linked = (
        t.prices.join(t.codes.select("sk_in_network_id", "description"),
                      "sk_in_network_id")
        .select("description", "negotiated_rate")
        .collect()
    )
    got = {(r["description"], r["negotiated_rate"]) for r in linked}
    assert got == {
        ("first occurrence", 100.0),
        ("same code, different item", 200.0),
    }


def test_capitation_and_bundle_fixtures_parse(spark, cms_samples):
    for name, array_field in [
        ("capitation", "covered_services"),
        ("bundle", "bundled_codes"),
    ]:
        tables = build_silver(spark, cms_samples[name], chunktargetbytes=1024)
        items = tables.in_network
        assert items.count() >= 1
        assert items.filter(F.col(array_field).isNotNull()).count() >= 1


def test_identical_chunks_keep_distinct_keys(spark, tmp_path):
    """Byte-identical chunks share a payload, so only their byte offsets
    tell them apart: build_silver mints one surrogate key per item, and a
    bronze read without offsets is refused rather than keyed by a payload
    hash that collides."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        MrfSilverTables,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        read_payer_mrf,
    )

    item = {
        "negotiation_arrangement": "ffs",
        "name": "A",
        "billing_code_type": "CPT",
        "billing_code_type_version": "2025",
        "billing_code": "27447",
        "description": "same item",
        "negotiated_rates": [],
    }
    p = str(tmp_path / "identical.json")
    with open(p, "w") as f:
        json.dump({"reporting_entity_name": "p", "in_network": [item] * 6}, f)
    t = build_silver(spark, p, chunktargetbytes=64)
    keys = [r["sk_in_network_id"] for r in t.codes.collect()]
    assert len(keys) == 6 and len(set(keys)) == 6
    with pytest.raises(ValueError, match="includeoffsets=true"):
        MrfSilverTables(read_payer_mrf(spark, p, chunktargetbytes=64))


_CTAS_TABLES = {
    "in_network": {
        "provider_header": "header",
        "provider_references_x_payer": "providers_x_payer",
        "in_network_codes": "codes",
        "in_network_rates": "rates",
        "in_network_prices": "prices",
        "in_network_par_providers": "par_providers",
    },
    "allowed_amounts": {
        "oon_header": "header",
        "out_of_network_items": "out_of_network",
        "out_of_network_payments": "payments",
    },
}


@pytest.mark.parametrize("kind", list(_CTAS_TABLES))
def test_save_all_ctas_tables(spark, mrf_file, tmp_path, kind):
    """save_all materializes the file type's CTAS tables
    (01_payer_mrf_demo.py:148-213), exactly the spec's table names; each
    saved table round-trips the in-memory DataFrame exactly."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        build_oon_silver,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import (
        write_allowed_amounts_file,
    )

    if kind == "in_network":
        tables = build_silver(spark, mrf_file, chunktargetbytes=8192)
    else:
        f = str(tmp_path / "oon.json")
        write_allowed_amounts_file(f, n_out_of_network=25, seed=3)
        tables = build_oon_silver(spark, f, chunktargetbytes=2048)
    expected = _CTAS_TABLES[kind]
    assert set(tables.spec.tables.values()) == set(expected)
    db = f"ctas_test_{kind}"
    tables.save_all(spark, db)
    try:
        # listTables(db) also returns session-scoped TEMP VIEWS (e.g.
        # ones other tests registered) — keep only the db's own tables
        listed = {
            t.name
            for t in spark.catalog.listTables(db)
            if not t.isTemporary
        }
        assert listed == set(expected)
        for name, attr in expected.items():
            df = getattr(tables, attr)
            got = spark.table(f"{db}.{name}")
            assert sorted(got.columns) == sorted(df.columns), name
            a = sorted(map(str, got.select(*sorted(got.columns)).collect()))
            b = sorted(map(str, df.select(*sorted(df.columns)).collect()))
            assert a == b, f"{name}: saved table differs from DataFrame"
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _recording_spec(fail_on=None):
    """The in-network spec with each derivation wrapped to record the ids
    of the frames it receives, and a ``save`` hook that writes nothing:
    it records when each save starts and returns, raises on ``fail_on``,
    and returns a fresh frame."""
    import dataclasses
    import threading
    import time

    from hls_payer_mrf_sparkstreaming_spark.plans.silver import IN_NETWORK

    lock = threading.Lock()
    events, returned, received = [], {}, {}

    def save(name, df):
        with lock:
            events.append(("start", name))
        time.sleep(0.05)  # a save that takes a while, so overlap shows
        if name == fail_on:
            raise RuntimeError(f"save of {name} failed")
        out = df.select("*")
        with lock:
            events.append(("end", name))
            returned[name] = out
        return out

    def recording(name, fn):
        def wrapped(*frames):
            received[name] = [id(f) for f in frames]
            return fn(*frames)

        return wrapped

    spec = dataclasses.replace(
        IN_NETWORK,
        derived={
            name: (recording(name, fn), inputs)
            for name, (fn, inputs) in IN_NETWORK.derived.items()
        },
    )
    return spec, save, events, returned, received


def _bronze(spark, mrf_file):
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        IN_NETWORK,
        _read_bronze,
    )

    return _read_bronze(
        spark, mrf_file, IN_NETWORK, {"chunktargetbytes": 8192}
    )


@pytest.mark.parametrize("names", ["tables", "stores"])
def test_stage_saves_each_node_after_its_inputs(spark, mrf_file, names):
    """SilverSpec.stage's scheduling contract, with a save hook and no
    warehouse: every named node is saved exactly once, a save starts only
    after every saved node it reads (through unsaved ones) has returned,
    and later nodes receive the frame the hook returned."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import IN_NETWORK

    names = tuple(getattr(IN_NETWORK, names))
    spec, save, events, returned, received = _recording_spec()
    frames = spec.stage(_bronze(spark, mrf_file), save, names)
    starts = [n for kind, n in events if kind == "start"]
    assert sorted(starts) == sorted(names)
    assert sorted(n for kind, n in events if kind == "end") == sorted(names)

    def saved_inputs(name):
        for i in spec.derived.get(name, (None, ()))[1]:
            if i in names:
                yield i
            else:
                yield from saved_inputs(i)

    for name in names:
        start = events.index(("start", name))
        for i in saved_inputs(name):
            assert events.index(("end", i)) < start, (name, i)
    for name, (_, inputs) in spec.derived.items():
        for i, got in zip(inputs, received[name]):
            want = returned[i] if i in names else frames[i]
            assert got == id(want), (name, i)
    assert all(frames[n] is returned[n] for n in names)


def test_stage_failed_save_skips_its_readers(spark, mrf_file):
    """A save that raises on codes makes stage raise that error; nothing
    that reads codes is saved, and the independent header branch still
    is (the partial write save_all documents)."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import IN_NETWORK

    spec, save, events, _, _ = _recording_spec(fail_on="codes")
    with pytest.raises(RuntimeError, match="^save of codes failed$"):
        spec.stage(_bronze(spark, mrf_file), save, tuple(IN_NETWORK.tables))
    started = {n for kind, n in events if kind == "start"}
    assert started == {"header", "providers_x_payer", "codes"}
    assert ("end", "codes") not in events


def test_save_all_jobs_inherit_the_callers_job_group(spark, mrf_file):
    """Every job save_all starts, on whichever staging thread, runs in the
    caller's job group: cancelJobGroup and group-scoped status-store
    totals see all of them, and none runs ungrouped."""
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    tables = build_silver(spark, mrf_file, chunktargetbytes=8192)
    db = "job_group_test"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("silver-save-all", "save_all job-group test")
    try:
        tables.save_all(spark, db)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert len(tracker.getJobIdsForGroup("silver-save-all")) >= len(
        tables.spec.tables
    )


def test_incremental_silver_from_streamed_bronze(spark, mrf_file, tmp_path):
    """Incremental ETL parity: stream bronze to a parquet table first
    (availableNow, includeoffsets on), then derive silver from that table —
    every silver table must equal the direct batch build row-for-row.
    Chunk byte offsets are discovery-order-independent, so the surrogate
    keys survive the stream/batch boundary."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        MrfSilverTables,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        stream_payer_mrf,
    )

    out = str(tmp_path / "bronze_tbl")
    ckpt = str(tmp_path / "bronze_ckpt")
    q = (
        stream_payer_mrf(
            spark, mrf_file, chunktargetbytes=8192, includeoffsets="true"
        )
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = MrfSilverTables(spark.read.parquet(out))
    batch = build_silver(spark, mrf_file, chunktargetbytes=8192)
    for name in ("codes", "prices", "par_providers", "providers_x_payer"):
        got = {
            tuple(str(c) for c in r)
            for r in getattr(streamed, name).collect()
        }
        want = {
            tuple(str(c) for c in r)
            for r in getattr(batch, name).collect()
        }
        assert got == want, name
        assert got, name


def test_examples_demo_runs_end_to_end(spark, mrf_file, capsys):
    """examples/demo.py (the reference-notebook parity flow) must run
    bronze -> silver -> gold against a provided MRF file."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "payer_mrf_demo_example",
        _os.path.join(
            _os.path.dirname(__file__), "..", "examples", "demo.py"
        ),
    )
    demo = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(demo)
    demo.main(mrf_file)
    out = capsys.readouterr().out
    assert "[bronze]" in out or "header_key" in out
    assert "in_network_prices" in out
    assert "[gold] shoppable price" in out


def test_allowed_amounts_silver_parses_and_sums(spark, tmp_path):
    """The allowed-amounts (out-of-network) file type streams through the
    SAME bronze engine (top-level-array-agnostic splitter) and its silver
    payments fact reconciles exactly with an independent json.load of the
    generated file."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        build_oon_silver,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import (
        write_allowed_amounts_file,
    )

    f = str(tmp_path / "oon.json")
    write_allowed_amounts_file(f, n_out_of_network=25, seed=3)
    t = build_oon_silver(spark, f, chunktargetbytes=2048)

    raw = json.load(open(f))
    items = raw["out_of_network"]
    assert t.out_of_network.count() == len(items)
    # one payments row per (item, allowed_amounts, payment, provider)
    want_rows = sum(
        len(p["providers"])
        for it in items
        for a in it["allowed_amounts"]
        for p in a["payments"]
    )
    pay = t.payments
    assert pay.count() == want_rows
    # exact-cents reconciliation of the billed total
    want_billed = sum(
        round(p2["billed_charge"] * 100)
        for it in items
        for a in it["allowed_amounts"]
        for p in a["payments"]
        for p2 in p["providers"]
    )
    got = pay.select(
        F.sum(F.round(F.col("billed_charge") * 100).cast("long"))
    ).collect()[0][0]
    assert got == want_billed
    # header scalars survive the ride
    hdr = {
        r["k"]: r["v"]
        for r in t.header.selectExpr(
            "stack(2, 'plan_name', plan_name, 'version', version) as (k, v)"
        ).collect()
        if r["v"] is not None
    }
    assert hdr["plan_name"] == "synthetic plan"
    assert hdr["version"] == "1.0.0"


def test_allowed_amounts_streams_and_ctas(spark, tmp_path):
    """The allowed-amounts file type STREAMS through the payer-mrf source
    (availableNow -> parquet), the streamed bronze parses to the same
    silver counts as the batch read, and save_all stages the CTAS
    medallion."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        build_oon_silver,
        parse_out_of_network,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        stream_payer_mrf,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import (
        write_allowed_amounts_file,
    )

    f = str(tmp_path / "oon.json")
    write_allowed_amounts_file(f, n_out_of_network=15, seed=9)
    out = str(tmp_path / "bronze")
    ck = str(tmp_path / "ck")
    q = (
        stream_payer_mrf(spark, f, includeoffsets="true")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = parse_out_of_network(spark.read.parquet(out))
    batch = build_oon_silver(spark, f)
    assert streamed.count() == batch.out_of_network.count() == 15

    batch.save_all(spark, "oon_test_db")
    try:
        pay = spark.table("oon_test_db.out_of_network_payments")
        assert pay.count() == batch.payments.count()
    finally:
        spark.sql("DROP DATABASE IF EXISTS oon_test_db CASCADE")


def test_toc_silver_manifest_counts(spark, tmp_path):
    """Table-of-contents silver: the flat ingest manifest's row count is
    exactly sum over structures of len(plans) * (len(in_network_files)
    + 1 allowed-amounts file), reconciled against json.load."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        build_toc_silver,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import (
        write_toc_file,
    )

    f = str(tmp_path / "toc.json")
    write_toc_file(f, n_structures=12, seed=4)
    t = build_toc_silver(spark, f, chunktargetbytes=2048)
    raw = json.load(open(f))
    want = sum(
        len(r["reporting_plans"])
        * (len(r["in_network_files"]) + ("allowed_amount_file" in r))
        for r in raw["reporting_structure"]
    )
    assert t.structures.count() == len(raw["reporting_structure"])
    assert t.file_manifest.count() == want
    kinds = dict(
        t.file_manifest.groupBy("file_kind").count().collect()
    )
    assert set(kinds) == {"in_network", "allowed_amounts"}


def test_remote_provider_resolution_reconciles(spark, tmp_path):
    """Remote provider-reference resolution: every location-only ref in
    the file resolves to exactly the group rows of its materialized
    standalone file, reconciled against json.load of both sides."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        build_silver,
        resolve_remote_provider_groups,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import (
        materialize_remote_provider_files,
        write_mrf_file,
    )

    f = str(tmp_path / "payer.json")
    write_mrf_file(f, n_in_network=30, n_provider_refs=60, seed=9)
    rd = str(tmp_path / "remote")
    written = materialize_remote_provider_files(f, rd, seed=9)
    assert written, "fixture produced no location-only refs"

    t = build_silver(spark, f, chunktargetbytes=8192)
    resolved = resolve_remote_provider_groups(
        spark, t.provider_references, rd
    )
    want = sum(
        len(json.load(open(p))["provider_groups"])
        for p in written.values()
    )
    rows = resolved.collect()
    assert len(rows) == want
    assert {r["provider_group_id"] for r in rows} == set(written)
    # resolved rows carry real group payloads, same shape as inline
    assert all(r["npi"] and r["tin"]["value"] for r in rows)


def test_toc_manifest_drives_multifile_ingest(spark, tmp_path):
    """End-to-end TOC orchestration: the discovery file's manifest names
    the data files; 'fetching' each URL (synthesizing it locally,
    gzipped, under the URL's basename) and pointing ONE multi-file
    read_payer_mrf at the download directory ingests the whole corpus —
    per-header element totals reconcile against json.load of every
    fetched file. Exercises the gz pre-pass and directory discovery on
    a mixed in-network + allowed-amounts corpus."""
    import gzip
    import shutil

    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        build_toc_silver,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        read_payer_mrf,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import (
        write_allowed_amounts_file,
        write_mrf_file,
        write_toc_file,
    )

    toc = str(tmp_path / "toc.json")
    write_toc_file(toc, n_structures=3, seed=13)
    t = build_toc_silver(spark, toc, chunktargetbytes=2048)
    manifest = sorted(
        t.file_manifest.select("file_kind", "location")
        .distinct()
        .collect(),
        key=lambda r: r["location"],
    )
    assert len(manifest) >= 4

    dl = tmp_path / "downloads"
    dl.mkdir()
    for i, r in enumerate(manifest):
        base = r["location"].rsplit("/", 1)[1]  # e.g. inn_0_1.json.gz
        plain = dl / base[:-3]
        if r["file_kind"] == "in_network":
            write_mrf_file(
                str(plain), n_in_network=6, n_provider_refs=4, seed=100 + i
            )
        else:
            write_allowed_amounts_file(
                str(plain), n_out_of_network=5, seed=100 + i
            )
        with open(plain, "rb") as fi, gzip.open(dl / base, "wb") as fo:
            shutil.copyfileobj(fi, fo)
        plain.unlink()

    want = {}
    for f in dl.glob("*.json.gz"):
        raw = json.load(gzip.open(f))
        for key in ("in_network", "out_of_network", "provider_references"):
            if raw.get(key):
                want[key] = want.get(key, 0) + len(raw[key])

    bronze = read_payer_mrf(
        spark,
        str(dl),
        chunktargetbytes=2048,
        decompressdir=str(tmp_path / "dec"),
    )
    got = {
        r["header_key"]: r["n"]
        for r in bronze.filter(F.col("header_key") != "")
        .groupBy("header_key")
        .agg(F.sum(F.json_array_length("json_payload")).alias("n"))
        .collect()
    }
    assert got == want, (got, want)


def test_toc_manifest_keeps_allowed_file_when_no_in_network_files(
    spark, tmp_path
):
    """Both file fields are optional in the CMS TOC schema: a structure
    with an allowed_amount_file but NO in_network_files key must still
    contribute its allowed-amounts URL (concat over a NULL array would
    silently drop the whole row set)."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        build_toc_silver,
    )

    doc = {
        "reporting_entity_name": "p",
        "reporting_entity_type": "payer",
        "reporting_structure": [
            {  # allowed-amounts only — the regression case
                "reporting_plans": [
                    {"plan_name": "a", "plan_id_type": "ein",
                     "plan_id": "1", "plan_market_type": "group"}
                ],
                "allowed_amount_file": {
                    "description": "oon", "location": "https://x/oon_a.json"
                },
            },
            {  # in-network only
                "reporting_plans": [
                    {"plan_name": "b", "plan_id_type": "ein",
                     "plan_id": "2", "plan_market_type": "group"}
                ],
                "in_network_files": [
                    {"description": "inn", "location": "https://x/inn_b.json"}
                ],
            },
            {  # neither — contributes nothing but must not error
                "reporting_plans": [
                    {"plan_name": "c", "plan_id_type": "ein",
                     "plan_id": "3", "plan_market_type": "group"}
                ],
            },
        ],
    }
    f = str(tmp_path / "toc.json")
    with open(f, "w") as out:
        json.dump(doc, out, indent=1)
    t = build_toc_silver(spark, f, chunktargetbytes=1024)
    rows = {
        (r["plan_id"], r["file_kind"], r["location"])
        for r in t.file_manifest.collect()
    }
    assert rows == {
        ("1", "allowed_amounts", "https://x/oon_a.json"),
        ("2", "in_network", "https://x/inn_b.json"),
    }


def test_remote_provider_resolution_survives_shared_url_basenames(
    spark, tmp_path
):
    """Real payer URLs routinely share basenames across path prefixes
    (.../2026-01/provider_refs.json vs .../2026-02/provider_refs.json).
    The resolver keys the download by provider_group_id — each ref must
    get exactly its own file's groups, never a cross-link."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        build_silver,
        resolve_remote_provider_groups,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import (
        materialize_remote_provider_files,
    )

    doc = {
        "reporting_entity_name": "p",
        "reporting_entity_type": "payer",
        "provider_references": [
            {"provider_group_id": 5,
             "location": "https://payer.com/2026-01/provider_refs.json"},
            {"provider_group_id": 9,
             "location": "https://payer.com/2026-02/provider_refs.json"},
        ],
        "in_network": [],
    }
    f = str(tmp_path / "payer.json")
    with open(f, "w") as out:
        json.dump(doc, out, indent=1)
    rd = str(tmp_path / "remote")
    written = materialize_remote_provider_files(f, rd, seed=3)
    assert set(written) == {5, 9}

    t = build_silver(spark, f, chunktargetbytes=1024)
    resolved = resolve_remote_provider_groups(
        spark, t.provider_references, rd
    )
    got = {
        gid: sorted(r["npi"][0] for r in rows)
        for gid, rows in __import__("itertools").groupby(
            sorted(resolved.collect(), key=lambda r: r["provider_group_id"]),
            key=lambda r: r["provider_group_id"],
        )
    }
    want = {
        gid: sorted(
            g["npi"][0] for g in json.load(open(p))["provider_groups"]
        )
        for gid, p in written.items()
    }
    assert got == want
