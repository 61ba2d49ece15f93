"""Bronze -> silver -> gold relational pipeline for CMS MRF data.

Re-expresses the reference demo notebook's SQL
(/root/reference/01_payer_mrf_demo.py:118-238) as composable DataFrame
functions:

- no RDD round-trip / runtime schema inference — ``from_json`` with the
  pinned CMS schema keeps everything JVM-side (01_payer_mrf_demo.py:118-129
  replaced);
- non-deterministic ``uuid()`` surrogate keys (01_payer_mrf_demo.py:165,180)
  replaced by position-derived ``xxhash64`` keys — (file_name, chunk byte
  offset, item position) — which are per-row unique AND stable across
  retries/restarts: at 100 TB a task retry with uuid() keys silently
  orphans child rows, xxhash keys cannot;
- the provider-references x payer cross join (01_payer_mrf_demo.py:157-158)
  is an explicit ``crossJoin`` against a 1-row broadcast dimension;
- the demo's one fixed CTAS recipe becomes one ``SilverSpec`` per CMS file
  type (IN_NETWORK, ALLOWED_AMOUNTS, TOC), which one builder, one staged
  saver and the foreachBatch stream (streaming/silver_stream.py) all walk.

Scale notes: every transform here is a narrow projection/generate over the
bronze rows — the only shuffles in the whole pipeline are the gold query's
joins, which Catalyst turns into broadcast joins for the small dimension
sides. Explode fan-out (negotiated_rates -> negotiated_prices) stays within
a partition; partition sizing is controlled upstream by the source's
``chunktargetbytes``.
"""

from __future__ import annotations

import logging
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hls_payer_mrf_sparkstreaming_spark.plans import schemas as S
from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
    HEADER_KEY_IN_NETWORK,
    HEADER_KEY_PROVIDER_REFERENCES,
    read_payer_mrf,
)

log = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# bronze -> typed
# ---------------------------------------------------------------------------


def parse_header(bronze: DataFrame) -> DataFrame:
    """Header fragments -> one typed row per fragment (merged downstream)."""
    return (
        bronze.filter(F.col("header_key") == "")
        .select(F.from_json("json_payload", S.HEADER_SCHEMA).alias("h"))
        .select("h.*")
    )


def parse_provider_references(bronze: DataFrame) -> DataFrame:
    """provider_references chunks -> one row per provider-reference object."""
    from pyspark.sql.types import ArrayType

    return (
        bronze.filter(F.col("header_key") == HEADER_KEY_PROVIDER_REFERENCES)
        .select(
            F.explode(
                F.from_json(
                    "json_payload", ArrayType(S.PROVIDER_REFERENCE_SCHEMA)
                )
            ).alias("p")
        )
        .select("p.*")
    )


def _parse_top_level_array(
    bronze: DataFrame, header_key: str, item_schema, sk_name: str
) -> DataFrame:
    """Chunks of one top-level array -> one typed row per array element,
    with a per-row-unique, retry-stable surrogate key — the shared
    recipe behind every array-shaped silver parse (in_network,
    out_of_network, reporting_structure).

    Real CMS files repeat a billing code across in_network items (differing
    name / negotiation_arrangement), so hashing the payload columns alone
    collides and cross-links prices between unrelated items. The key hashes
    (file_name, chunk identity, item position within the chunk) instead —
    unique per item and deterministic across task retries (the reference's
    uuid() keys, 01_payer_mrf_demo.py:165, are neither). Chunk identity is
    ``chunk_start``, the byte offset the source adds with
    ``includeoffsets=true`` (``silver_source_options`` sets it). A bronze
    without it is rejected: a hash of the chunk payload would give two
    byte-identical chunks the same keys and cross-link their prices.
    """
    from pyspark.sql.types import ArrayType

    if "chunk_start" not in bronze.columns:
        raise ValueError(
            "silver needs chunk byte offsets: read the bronze with the "
            "payer-mrf source option includeoffsets=true"
        )
    return (
        bronze.filter(F.col("header_key") == header_key)
        .select(
            "file_name",
            F.col("chunk_start").alias("_chunk_id"),
            F.posexplode(
                F.from_json("json_payload", ArrayType(item_schema))
            ).alias("_item_pos", "n"),
        )
        .select(
            _sk("file_name", "_chunk_id", "_item_pos").alias(sk_name),
            "n.*",
        )
    )


def parse_in_network(bronze: DataFrame) -> DataFrame:
    """in_network chunks -> one row per in_network item (see
    _parse_top_level_array for the surrogate-key rationale)."""
    return _parse_top_level_array(
        bronze,
        HEADER_KEY_IN_NETWORK,
        S.IN_NETWORK_ITEM_SCHEMA,
        "sk_in_network_id",
    )


# ---------------------------------------------------------------------------
# silver star model (01_payer_mrf_demo.py:148-213)
# ---------------------------------------------------------------------------


def _sk(*cols) -> F.Column:
    """Deterministic surrogate key (replaces uuid(); see module docstring)."""
    return F.xxhash64(*cols)


def provider_references_x_payer(
    provider_refs: DataFrame, header: DataFrame
) -> DataFrame:
    """Exploded provider groups x reporting entity
    (01_payer_mrf_demo.py:148-158)."""
    groups = provider_refs.select(
        "provider_group_id", F.explode("provider_groups").alias("group_array")
    ).select(
        "provider_group_id",
        F.col("group_array.npi").alias("npi"),
        F.col("group_array.tin").alias("tin"),
    )
    entity = (
        header.filter(F.col("reporting_entity_name").isNotNull())
        .select("reporting_entity_name", "reporting_entity_type")
        .limit(1)
    )
    return groups.crossJoin(F.broadcast(entity)).select(
        "reporting_entity_name",
        "reporting_entity_type",
        "provider_group_id",
        "npi",
        "tin",
    )


def in_network_codes(in_network: DataFrame) -> DataFrame:
    """Procedure table with surrogate key (01_payer_mrf_demo.py:160-171).

    The key is the per-item one minted in parse_in_network — NOT a hash of
    the billing columns, which repeat across items in real CMS files."""
    return in_network.select(
        "sk_in_network_id",
        "billing_code",
        "billing_code_type",
        "billing_code_type_version",
        "description",
        "name",
        "negotiation_arrangement",
        "negotiated_rates",
    )


def in_network_rates(codes: DataFrame) -> DataFrame:
    """Exploded negotiated_rates with rate surrogate key
    (01_payer_mrf_demo.py:173-184). posexplode keeps the key deterministic
    for identical rate payloads within one code."""
    return codes.select(
        "sk_in_network_id",
        F.posexplode("negotiated_rates").alias("rate_pos", "negotiated_rates_array"),
    ).select(
        _sk("sk_in_network_id", "rate_pos").alias("sk_rate_id"),
        "sk_in_network_id",
        "negotiated_rates_array",
    )


def in_network_prices(rates: DataFrame) -> DataFrame:
    """Exploded negotiated_prices, negotiated-type only
    (01_payer_mrf_demo.py:186-200)."""
    return (
        rates.select(
            "sk_in_network_id",
            "sk_rate_id",
            F.explode("negotiated_rates_array.negotiated_prices").alias("price"),
        )
        .filter(F.col("price.negotiated_type") == "negotiated")
        .select(
            "sk_in_network_id",
            "sk_rate_id",
            F.col("price.billing_class").alias("billing_class"),
            F.col("price.billing_code_modifier").alias("billing_code_modifier"),
            F.col("price.expiration_date").alias("expiration_date"),
            F.col("price.negotiated_rate").alias("negotiated_rate"),
            F.col("price.negotiated_type").alias("negotiated_type"),
            F.col("price.service_code").alias("service_code"),
        )
    )


def in_network_par_providers(rates: DataFrame) -> DataFrame:
    """Rate -> provider_reference_id links (01_payer_mrf_demo.py:202-213)."""
    return rates.select(
        F.explode("negotiated_rates_array.provider_references").alias(
            "provider_reference_id"
        ),
        "sk_rate_id",
    )


# ---------------------------------------------------------------------------
# gold (01_payer_mrf_demo.py:225-238)
# ---------------------------------------------------------------------------


# The one-code predicate sits in the codes relation's WHERE, so Catalyst
# pushes it into the codes scan before any of the three explodes, and the
# price filter lands between the price and the provider-reference explode.
# The TIN-filtered provider dim is tiny; the BROADCAST hint is explicit
# because the payer-mrf scan has no stats, so Catalyst would otherwise
# pick a shuffle join.
_SHOPPABLE_PRICE_SQL = """
WITH price_refs AS (
    SELECT c.billing_code,
           c.description,
           price.billing_class,
           price.billing_code_modifier,
           price.service_code,
           price.negotiated_rate,
           provider_reference_id
    FROM {codes} c
    LATERAL VIEW explode(c.negotiated_rates) rates AS nr
    LATERAL VIEW explode(nr.negotiated_prices) prices AS price
    LATERAL VIEW explode(nr.provider_references) refs AS provider_reference_id
    WHERE c.billing_code = :billing_code
      AND c.negotiation_arrangement = 'ffs'
      AND price.negotiated_type = 'negotiated'
),
provider AS (
    SELECT provider_group_id, npi, tin
    FROM {providers_x_payer}
    WHERE tin.value = :tin_value
)
SELECT /*+ BROADCAST(provider) */
       r.billing_code,
       r.description,
       r.billing_class,
       r.billing_code_modifier,
       r.service_code,
       r.negotiated_rate,
       provider.npi,
       provider.tin
FROM price_refs r
JOIN provider ON r.provider_reference_id = provider.provider_group_id
"""


def shoppable_price(
    codes: DataFrame,
    providers_x_payer: DataFrame,
    billing_code: str,
    tin_value: str,
) -> DataFrame:
    """Parameterized price-comparison query: price for a procedure within a
    provider group (the CMS 2023 mandate query, 01_payer_mrf_demo.py:225-238).

    The demo's SQL joins the materialized codes/prices/par_providers
    tables; re-expressed here as filter-first derivation instead: the
    one-code predicate hits the codes scan BEFORE any explode (pushed
    into the parquet read on a materialized table), and the
    (price, provider_reference) pairs unfold from that code's
    negotiated_rates alone. The full price fact is never scanned, no
    surrogate-key join is needed, and the one corpus-sized input is
    read once — joining the prices/par_providers tables instead would
    scan the whole fact and, on un-materialized lineage, re-execute the
    JSON parse once per join side.

    The query is one parsed SQL statement, not a chain of DataFrame
    calls, because its build is paid on every lookup: each DataFrame
    call is analysed eagerly over py4j. On 4 cores the dozen-call chain
    took about 80 ms to build a warm lookup whose two Spark jobs run in
    about 160 ms; the statement builds in about 35 ms. ``billing_code`` and
    ``tin_value`` are bound as the named parameter markers
    ``:billing_code`` and ``:tin_value``, never formatted into the text,
    so a value is always data. The two frames are passed as DataFrame
    arguments, which PySpark registers as temp views for the analysis
    and drops afterwards.

    Dropping a temp view also uncaches a cached plan identical to the
    view's, so each frame goes in under a no-op ``where("true")``: a
    caller's persisted codes or provider frame stays persisted (one py4j
    call each; the optimizer removes the filter)."""
    return codes.sparkSession.sql(
        _SHOPPABLE_PRICE_SQL,
        args={"billing_code": billing_code, "tin_value": tin_value},
        codes=codes.where("true"),
        providers_x_payer=providers_x_payer.where("true"),
    )


# ---------------------------------------------------------------------------
# allowed-amounts (out-of-network) silver — the second CMS
# Transparency-in-Coverage file type. The reference repo stops at
# in-network-rates files, but its splitter (and this engine's) is agnostic
# over top-level array names, so an allowed-amounts file streams through
# the SAME bronze source with header_key='out_of_network'; only the
# from_json schema differs.
# ---------------------------------------------------------------------------

HEADER_KEY_OUT_OF_NETWORK = "out_of_network"


def parse_out_of_network(bronze: DataFrame) -> DataFrame:
    """out_of_network chunks -> one row per item, same shared recipe."""
    return _parse_top_level_array(
        bronze,
        HEADER_KEY_OUT_OF_NETWORK,
        S.OUT_OF_NETWORK_ITEM_SCHEMA,
        "sk_oon_id",
    )


def out_of_network_payments(items: DataFrame) -> DataFrame:
    """Fully exploded payment fact: one row per (item, allowed_amounts
    entry, payment, provider) with the code/tin/class dims carried and
    amounts in the raw dollars the file states."""
    return (
        items.select(
            "sk_oon_id",
            "billing_code",
            F.posexplode("allowed_amounts").alias("aa_pos", "aa"),
        )
        .select(
            "sk_oon_id",
            "billing_code",
            _sk("sk_oon_id", "aa_pos").alias("sk_allowed_id"),
            F.col("aa.tin").alias("tin"),
            F.col("aa.billing_class").alias("billing_class"),
            F.col("aa.service_code").alias("service_code"),
            F.explode("aa.payments").alias("pay"),
        )
        .select(
            "sk_oon_id",
            "sk_allowed_id",
            "billing_code",
            "tin",
            "billing_class",
            "service_code",
            F.col("pay.allowed_amount").alias("allowed_amount"),
            F.explode("pay.providers").alias("prov"),
        )
        .select(
            "sk_oon_id",
            "sk_allowed_id",
            "billing_code",
            "tin",
            "billing_class",
            "service_code",
            "allowed_amount",
            F.col("prov.billed_charge").alias("billed_charge"),
            F.col("prov.npi").alias("npi"),
        )
    )


# ---------------------------------------------------------------------------
# table-of-contents silver — the CMS discovery format. Real payer TOCs
# run to hundreds of MB (thousands of plan groups x file lists), so the
# reporting_structure array streams through the same splitter; silver is
# one flat (plan x file) manifest a fleet scheduler can fan ingest over.
# ---------------------------------------------------------------------------

HEADER_KEY_REPORTING_STRUCTURE = "reporting_structure"


def parse_reporting_structure(bronze: DataFrame) -> DataFrame:
    """reporting_structure chunks -> one row per plan-group entry."""
    return _parse_top_level_array(
        bronze,
        HEADER_KEY_REPORTING_STRUCTURE,
        S.TOC_STRUCTURE_SCHEMA,
        "sk_structure_id",
    )


def toc_file_manifest(structures: DataFrame) -> DataFrame:
    """Flat (plan, file_kind, location) manifest: every reporting plan
    crossed with its group's in-network files plus the allowed-amounts
    file — the work list an ingest scheduler partitions over.

    One lineage, two sequential explodes (plans, then the group's file
    list carried alongside) — the plan-x-file cross product happens
    WITHIN each structure row, so no self-join and the JSON branch is
    parsed exactly once."""
    # struct field names set by .alias() inside a higher-order-function
    # lambda are NOT preserved (Spark names them col1, col2, ...), so
    # both concat sides are cast to the same named struct type. Both
    # sides are also coalesced to an empty typed array: concat returns
    # NULL if ANY argument is NULL, so a structure with an
    # allowed_amount_file but no in_network_files key (both are optional
    # in the CMS TOC schema) would otherwise explode to ZERO rows and
    # silently drop its allowed-amounts URL from the manifest.
    ftype = "array<struct<file_kind:string,location:string>>"
    empty = f"CAST(array() AS {ftype})"
    # one parsed expression (SQL text, see functions/vector.py) — the
    # Column-API build of this nested transform/when/cast tree cost ~100
    # py4j round trips per manifest construction
    files_arr = (
        "concat("
        "coalesce(CAST(transform(in_network_files, "
        "f -> struct('in_network' AS file_kind, f.location AS location)) "
        f"AS {ftype}), {empty}), "
        "coalesce(CAST(CASE WHEN allowed_amount_file IS NOT NULL THEN "
        "array(struct('allowed_amounts' AS file_kind, "
        "allowed_amount_file.location AS location)) "
        f"ELSE array() END AS {ftype}), {empty}))"
    )
    return (
        structures.selectExpr(
            "sk_structure_id",
            "explode(reporting_plans) AS p",
            f"{files_arr} AS _files",
        )
        .select("sk_structure_id", "p.*", F.explode("_files").alias("f"))
        .select(
            "sk_structure_id",
            "plan_name",
            "plan_id_type",
            "plan_id",
            "plan_market_type",
            "f.file_kind",
            "f.location",
        )
    )


# ---------------------------------------------------------------------------
# one silver spec per CMS file type (01_payer_mrf_demo.py:148-213), walked
# by one bronze reader (_read_bronze), one staging loop (SilverSpec.stage:
# SilverTables, save_all and the foreachBatch stream) and read_silver
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SilverSpec:
    """One CMS file type's silver recipe.

    ``branches``: attr -> (header_key, parse fn over a bronze); the
    builder reads one headerkey-pruned bronze per branch. ``derived``:
    attr -> (fn, input attrs), in dependency order. ``tables``: attr ->
    batch table name of each node ``save_all`` writes. ``stores``: the
    nodes the foreachBatch stream writes."""

    branches: dict[str, tuple[str, Callable[[DataFrame], DataFrame]]]
    derived: dict[str, tuple[Callable[..., DataFrame], tuple[str, ...]]]
    tables: dict[str, str] = field(default_factory=dict)
    stores: tuple[str, ...] = ()

    def parse(self, bronze) -> dict[str, DataFrame]:
        """Each branch's frame over ``bronze``: one bronze for every
        branch, or branch attr -> its own headerkey-pruned bronze."""
        if not isinstance(bronze, dict):
            bronze = dict.fromkeys(self.branches, bronze)
        return {
            name: parse(bronze[name])
            for name, (_, parse) in self.branches.items()
        }

    def stage(self, bronze, save, names) -> dict[str, DataFrame]:
        """Every node over ``bronze`` (see ``parse``), by spec name. Each
        node in ``names`` is passed to ``save(name, df)``, and later nodes
        read the frame ``save`` returns instead of the bronze lineage
        (``SilverTables`` holds the lineage-only frames).

        Each node is built and saved on its own driver thread as soon as
        every node it reads has been saved, so independent writes (the
        header -> providers_x_payer branch and the codes -> rates ->
        {prices, par_providers} branch) run at the same time: at small
        sizes a write costs a fixed 0.3-1.7 s whatever its row count. Each
        thread inherits the caller's job group, local properties and tags,
        so ``cancelJobGroup``, status-store totals and a streaming query's
        run-ID group still see its jobs.

        Returns once every node has finished. If a node fails, no node
        that reads it is saved, the nodes that do not read it still run,
        and the first failure in spec order is raised."""
        if not isinstance(bronze, dict):
            bronze = dict.fromkeys(self.branches, bronze)
        nodes = [
            (name, partial(parse, bronze[name]), ())
            for name, (_, parse) in self.branches.items()
        ] + [(name, fn, inputs) for name, (fn, inputs) in self.derived.items()]

        def build(name, fn, inputs) -> DataFrame:
            df = fn(*(f.result() for f in inputs))
            if name not in names:
                return df
            t0 = time.perf_counter()
            df = save(name, df)
            log.debug("saved silver %s in %.3f s", name,
                      time.perf_counter() - t0)
            return df

        spark = next(iter(bronze.values())).sparkSession
        futures = {}
        with ThreadPoolExecutor(len(nodes), "silver-stage") as pool:
            for name, fn, inputs in nodes:
                # wrapped per task: each thread gets its own copy of the
                # caller's local properties (a shared copy would let one
                # write's SQL execution id clobber another's)
                futures[name] = pool.submit(
                    inheritable_thread_target(spark)(build),
                    name, fn, [futures[i] for i in inputs],
                )
        return {name: f.result() for name, f in futures.items()}

    def derive(self, frames: dict) -> dict:
        """Add to ``frames`` each derived node it lacks but holds the
        inputs of, in spec order (lineage only, nothing is saved)."""
        for name, (fn, inputs) in self.derived.items():
            if name not in frames and all(i in frames for i in inputs):
                frames[name] = fn(*(frames[i] for i in inputs))
        return frames


IN_NETWORK = SilverSpec(
    branches={
        "header": ("", parse_header),
        "provider_references": (
            HEADER_KEY_PROVIDER_REFERENCES,
            parse_provider_references,
        ),
        "in_network": (HEADER_KEY_IN_NETWORK, parse_in_network),
    },
    derived={
        "providers_x_payer": (
            provider_references_x_payer,
            ("provider_references", "header"),
        ),
        "codes": (in_network_codes, ("in_network",)),
        "rates": (in_network_rates, ("codes",)),
        "prices": (in_network_prices, ("rates",)),
        "par_providers": (in_network_par_providers, ("rates",)),
    },
    tables={
        "header": "provider_header",
        "providers_x_payer": "provider_references_x_payer",
        "codes": "in_network_codes",
        "rates": "in_network_rates",
        "prices": "in_network_prices",
        "par_providers": "in_network_par_providers",
    },
    # the stream stores only nodes whose every row derives from ONE
    # bronze chunk. providers_x_payer crosses provider_references with the
    # header's reporting entity — header and provider_references chunks
    # land in DIFFERENT micro-batches under pipelined discovery, so that
    # join must happen at read time over the accumulated stores, never
    # per batch.
    stores=("header", "provider_references", "codes", "prices",
            "par_providers"),
)

ALLOWED_AMOUNTS = SilverSpec(
    branches={
        "header": ("", parse_header),
        "out_of_network": (HEADER_KEY_OUT_OF_NETWORK, parse_out_of_network),
    },
    derived={"payments": (out_of_network_payments, ("out_of_network",))},
    tables={
        "header": "oon_header",
        "out_of_network": "out_of_network_items",
        "payments": "out_of_network_payments",
    },
)

TOC = SilverSpec(
    branches={
        "structures": (
            HEADER_KEY_REPORTING_STRUCTURE,
            parse_reporting_structure,
        ),
    },
    derived={"file_manifest": (toc_file_manifest, ("structures",))},
)


class SilverTables:
    """The silver frames of one bronze, one attribute per spec node.

    The branches are parsed here, so a bronze without chunk offsets is
    refused at construction. A derived node is built on its first read:
    each DataFrame op is analysed eagerly through py4j, and ``save_all``
    stages frames of its own over the saved tables, so a build that only
    saves never pays for the lineage frames."""

    def __init__(self, spec: SilverSpec, bronze):
        self.spec, self._bronze = spec, bronze
        vars(self).update(spec.parse(bronze))

    def __getattr__(self, name: str) -> DataFrame:
        spec = vars(self).get("spec")
        if spec is None or name not in spec.derived:
            raise AttributeError(name)
        fn, inputs = spec.derived[name]
        df = fn(*(getattr(self, i) for i in inputs))
        setattr(self, name, df)
        return df

    def save_all(self, spark: SparkSession, database: str) -> None:
        """CTAS equivalents of the spec's tables, staged: each tier
        derives from the PREVIOUSLY WRITTEN table, not from bronze lineage
        — otherwise codes/rates/prices/par_providers would each re-read
        and re-parse the in_network JSON branch (4x the ingest cost;
        measured 1.7 GB/min vs 3x that staged on a 2.2 GB corpus). Reading
        back the just-written table is the medallion pattern that holds
        at 100 TB, where persist() of the parsed branch would not fit and
        lineage recompute is prohibitive.

        Tables that do not read each other are written at the same time
        (``SilverSpec.stage``). If a write fails, the tables that read it
        are not written, but an independent branch may already be: a
        failed ``in_network_codes`` can leave ``provider_header`` and
        ``provider_references_x_payer`` freshly written next to the
        previous run's rates, prices and par_providers."""
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")

        def save(name: str, df: DataFrame) -> DataFrame:
            table = f"{database}.{self.spec.tables[name]}"
            df.write.mode("overwrite").saveAsTable(table)
            return spark.table(table)

        self.spec.stage(self._bronze, save, self.spec.tables)


class MrfSilverTables(SilverTables):
    """The in-network silver tables of one bronze, plus the gold query."""

    def __init__(self, bronze):
        super().__init__(IN_NETWORK, bronze)

    def shoppable_price(self, billing_code: str, tin_value: str) -> DataFrame:
        return shoppable_price(
            self.codes,
            self.providers_x_payer,
            billing_code,
            tin_value,
        )


def silver_source_options(options: dict) -> dict:
    """``options`` with ``includeoffsets`` on unless the caller set it:
    surrogate keys hash the chunk byte offset (per-row unique,
    retry-stable), so a batch build and a stream over the same file
    derive the same keys."""
    options = dict(options)
    if "includeoffsets" not in {k.lower() for k in options}:
        options["includeoffsets"] = "true"
    return options


def _read_bronze(spark: SparkSession, path: str, spec: SilverSpec, options):
    """The bronze of each of ``spec``'s branches: one headerkey-pruned read
    per branch, so each branch's scan plans only its own byte ranges (the
    IO win the row-level header_key filter alone cannot give a Python data
    source); or the one read the caller pruned with ``headerkey``."""
    options = silver_source_options(options)
    if "headerkey" in {k.lower() for k in options}:
        return read_payer_mrf(spark, path, **options)
    return {
        name: read_payer_mrf(spark, path, **options, headerkey=hk)
        for name, (hk, _) in spec.branches.items()
    }


def build_silver(spark: SparkSession, path: str, **options) -> MrfSilverTables:
    """Read an in-network rates file and derive the full silver star model
    (byte-range-pruned branches, so e.g. the gold query's in_network scans
    never read provider_references bytes)."""
    return MrfSilverTables(_read_bronze(spark, path, IN_NETWORK, options))


def build_oon_silver(
    spark: SparkSession, path: str, **options
) -> SilverTables:
    """Allowed-amounts silver: header, out_of_network items, payments."""
    return SilverTables(
        ALLOWED_AMOUNTS, _read_bronze(spark, path, ALLOWED_AMOUNTS, options)
    )


def build_toc_silver(
    spark: SparkSession, path: str, **options
) -> SilverTables:
    """Table-of-contents silver: structures and the (plan x file)
    manifest."""
    return SilverTables(TOC, _read_bronze(spark, path, TOC, options))


# ---------------------------------------------------------------------------
# remote provider-reference resolution — the CMS in-network schema lets
# a provider_references entry point at a standalone file via `location`
# instead of inlining provider_groups (the reference engine drops these
# on the floor; see JsonMRFSource.scala's fixed 3-column contract). The
# remote files are thousands of SMALL JSON objects, so the right tool is
# a stock distributed spark.read.json scan, not the chunker. Download
# layout contract: the fetcher saves each ref's payload as
# provider_group_{gid}.json (materialize_remote_provider_files does
# exactly this) — keyed by the gid, NOT the URL basename, because real
# payer URLs routinely share basenames across path prefixes
# (.../2026-01/provider_refs.json vs .../2026-02/provider_refs.json)
# and a basename join would silently cross-link provider groups.
# ---------------------------------------------------------------------------


def resolve_remote_provider_groups(
    spark: SparkSession, provider_refs: DataFrame, remote_dir: str
) -> DataFrame:
    """location-only provider_references -> (provider_group_id, npi, tin)
    rows, shaped exactly like the inline-group explode in
    provider_references_x_payer so the two sources union cleanly.

    ``remote_dir`` must follow the download-layout contract above: one
    ``provider_group_{gid}.json`` per location-only reference.

    Plan: ONE distributed JSON scan over the remote directory (pinned
    schema — no inference pass), exploded to group rows; the refs side
    reduces to a (gid, expected-filename) dim bounded by the reference
    count, so it is explicitly broadcast — at national scale the scan
    side (thousands of small files across executors) never shuffles."""
    remote = (
        spark.read.schema(S.REMOTE_PROVIDER_FILE_SCHEMA)
        # each standalone file is ONE pretty-printed JSON object, not
        # JSON-Lines — without multiLine the line-oriented reader yields
        # a null row per line and the explode silently drops everything
        .option("multiLine", "true")
        .json(remote_dir.rstrip("/") + "/*.json")
        .select(
            F.element_at(
                F.split(F.input_file_name(), "/"), -1
            ).alias("_basename"),
            F.explode("provider_groups").alias("g"),
        )
    )
    refs = provider_refs.filter(
        F.col("location").isNotNull() & F.col("provider_groups").isNull()
    ).select(
        "provider_group_id",
        F.concat(
            F.lit("provider_group_"),
            F.col("provider_group_id").cast("string"),
            F.lit(".json"),
        ).alias("_basename"),
    )
    return remote.join(F.broadcast(refs), "_basename").select(
        "provider_group_id",
        F.col("g.npi").alias("npi"),
        F.col("g.tin").alias("tin"),
    )
