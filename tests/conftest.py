import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
# python workers of the Python DataSource must be able to import the package
os.environ["PYTHONPATH"] = (
    REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)


@pytest.fixture(scope="session")
def spark():
    from hls_payer_mrf_sparkstreaming_spark.session import get_spark

    spark = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def mrf_file(tmp_path_factory):
    """Session-scoped synthetic MRF fixture file."""
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import write_mrf_file

    p = str(tmp_path_factory.mktemp("mrf") / "synthetic_mrf.json")
    write_mrf_file(p, n_in_network=120, n_provider_refs=25, seed=42)
    return p


# ---------------------------------------------------------------------------
# The four CMS in-network-rates sample shapes (FIXTURES.md §A.1-A.4), small
# and written inline so every fact a test asserts is visible here:
# - ffs: billing codes 27447 and 27448 only. 27448 is priced 12003.45
#   through provider_reference 1, whose two groups carry TINs 11-1111111
#   and 22-2222222. 27447 names the same TIN only in an inline provider
#   group, so the reference-joined gold lookup for it is empty.
# - capitation / bundle: items carry covered_services / bundled_codes.
# - multiple_plans: header without plan_* keys; "version" comes after the
#   arrays (a trailing header fragment), and the file is not indented.
# ---------------------------------------------------------------------------


def _price(rate, billing_class="professional", negotiated_type="negotiated"):
    return {
        "negotiated_type": negotiated_type,
        "negotiated_rate": rate,
        "expiration_date": "2022-01-01",
        "service_code": ["18", "19", "11"],
        "billing_class": billing_class,
    }


def _group(tin, *npi):
    return {"npi": list(npi), "tin": {"type": "ein", "value": tin}}


_PROVIDER_REFERENCES = [
    {
        "provider_group_id": 1,
        "provider_groups": [
            _group("11-1111111", 1111111111, 2222222222),
            _group("22-2222222", 3333333333),
        ],
    },
    {
        "provider_group_id": 2,
        "provider_groups": [_group("33-3333333", 4444444444, 5555555555)],
    },
    {
        "provider_group_id": 3,
        "location": "https://www.example.com/provider-groups/3.json",
    },
]

_CPT_ITEMS = [
    {
        "negotiation_arrangement": "ffs",
        "name": "Knee Replacement",
        "billing_code_type": "CPT",
        "billing_code_type_version": "2020",
        "billing_code": "27447",
        "description": "Arthroplasty, knee, condyle and plateau",
        "negotiated_rates": [
            {
                "provider_groups": [_group("11-1111111", 1111111111)],
                "negotiated_prices": [
                    _price(27.0),
                    _price(2000.0, "institutional"),
                ],
            }
        ],
    },
    {
        "negotiation_arrangement": "ffs",
        "name": "Knee Replacement, revision",
        "billing_code_type": "CPT",
        "billing_code_type_version": "2020",
        "billing_code": "27448",
        "description": "Arthroplasty, knee, revision",
        "negotiated_rates": [
            {
                "provider_references": [1],
                "negotiated_prices": [_price(12003.45, "institutional")],
            },
            {
                "provider_references": [2],
                "negotiated_prices": [
                    _price(11000.0, "institutional"),
                    _price(9000.0, "institutional", "derived"),
                ],
            },
        ],
    },
]


def _component(code, description):
    return {
        "billing_code_type": "CPT",
        "billing_code_type_version": "2020",
        "billing_code": code,
        "description": description,
    }


def _arrangement_item(arrangement, code_type, code, field, components):
    return {
        "negotiation_arrangement": arrangement,
        "name": f"{arrangement} sample",
        "billing_code_type": code_type,
        "billing_code_type_version": "2020",
        "billing_code": code,
        "description": f"{arrangement} sample item",
        field: components,
        "negotiated_rates": [
            {
                "provider_references": [1, 2],
                "negotiated_prices": [_price(350.0), _price(4100.5)],
            }
        ],
    }


_HEADER = {
    "reporting_entity_name": "medical plan insurer",
    "reporting_entity_type": "health insurance issuer",
    "plan_name": "medical plan",
    "plan_id_type": "hios",
    "plan_id": "1111111111",
    "plan_market_type": "individual",
    "last_updated_on": "2020-08-27",
    "version": "1.0.0",
}


def _cms_sample_docs() -> dict:
    knees = [_component("27447", "knee"), _component("27448", "knee rev")]
    return {
        "ffs": {
            **_HEADER,
            "provider_references": _PROVIDER_REFERENCES,
            "in_network": _CPT_ITEMS,
        },
        "capitation": {
            **_HEADER,
            "provider_references": _PROVIDER_REFERENCES,
            "in_network": [
                _arrangement_item(
                    "capitation", "CSTM-ALL", "CSTM-00", "covered_services",
                    [_component("99213", "office visit"), *knees],
                )
            ],
        },
        "bundle": {
            **_HEADER,
            "provider_references": _PROVIDER_REFERENCES,
            "in_network": [
                _arrangement_item(
                    "bundle", "ICD", "0SRC0J9", "bundled_codes", knees
                )
            ],
        },
        "multiple_plans": {
            "reporting_entity_name": "medical plan insurer",
            "reporting_entity_type": "health insurance issuer",
            "last_updated_on": "2020-08-27",
            "provider_references": _PROVIDER_REFERENCES,
            "in_network": _CPT_ITEMS,
            "version": "1.0.0",
        },
    }


@pytest.fixture(scope="session")
def cms_samples(tmp_path_factory):
    """Shape name -> path of that CMS sample written as a .json file."""
    import json

    d = tmp_path_factory.mktemp("cms")
    paths = {}
    for name, doc in _cms_sample_docs().items():
        p = str(d / f"in-network-rates-{name}-sample.json")
        with open(p, "w") as f:
            json.dump(doc, f, indent=None if name == "multiple_plans" else 2)
        paths[name] = p
    return paths
