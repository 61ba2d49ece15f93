"""Unit + property tests for the MRF byte splitter.

Mirrors the reference's test strategy (SURVEY.md §5): primitive-level
assertions plus whole-file reassembly invariants, extended with randomized
buffer-boundary property tests (the reference's known weak spot,
JsonMRFSource.scala:114).
"""

import gzip
import io
import json
import os

import pytest

from hls_payer_mrf_sparkstreaming_spark.sources.chunker import (
    EOB,
    ChunkScanner,
    MalformedMRFError,
    repair_header_fragment,
    scalar_value_end,
    seek_matching_end,
    skip_string,
    split_elements,
    wrap_array_payload,
)
from hls_payer_mrf_sparkstreaming_spark.sources.synth import write_mrf_file

CMS_SHAPES = ["ffs", "capitation", "bundle", "multiple_plans"]


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


def test_skip_string_simple():
    assert skip_string(b'"abc" rest', 0) == 5


def test_skip_string_escaped_quote():
    assert skip_string(b'"a\\"b"x', 0) == 6


def test_skip_string_escaped_backslash_then_close():
    assert skip_string(b'"a\\\\"x', 0) == 5


def test_skip_string_unterminated():
    assert skip_string(b'"abc', 0) == EOB


def test_seek_matching_end_nested():
    s = b'{"a": [1, {"b": "}"}], "c": 2}'
    assert seek_matching_end(s, 0) == len(s) - 1


def test_seek_matching_end_eob():
    assert seek_matching_end(b'{"a": [1, 2', 0) == EOB


def test_scalar_value_end():
    assert scalar_value_end(b"123, 4", 0) == 2
    assert scalar_value_end(b"true }", 0) == 3
    assert scalar_value_end(b"12", 0) == EOB


def test_repair_header_fragment_shapes():
    assert json.loads(repair_header_fragment(b'{"a": 1,')) == {"a": 1}
    assert json.loads(repair_header_fragment(b'"v": "1.0"}')) == {"v": "1.0"}
    assert json.loads(repair_header_fragment(b', "a": {"b": 1},')) == {"a": {"b": 1}}
    assert json.loads(repair_header_fragment(b'{"a": 1}')) == {"a": 1}
    assert json.loads(repair_header_fragment(b'"a": 1')) == {"a": 1}
    assert json.loads(repair_header_fragment(b"  ")) == {}


def test_split_elements_mixed():
    raw = b'{"a": 1}, "str", 42, [1, 2], null'
    assert [json.loads(e) for e in split_elements(raw)] == [
        {"a": 1},
        "str",
        42,
        [1, 2],
        None,
    ]


# ---------------------------------------------------------------------------
# whole-file reassembly invariant
# ---------------------------------------------------------------------------


def reassemble(raw: bytes, chunk_target: int, read_size: int):
    """Scan + executor-side repair; return (header_dict, arrays_dict, chunks)."""
    chunks = list(
        ChunkScanner(io.BytesIO(raw), chunk_target, read_size).scan()
    )
    headers: dict = {}
    arrays: dict = {}
    n_elems: dict = {}
    for c in chunks:
        piece = raw[c.start : c.end + 1]
        if c.header_key == "":
            headers.update(json.loads(repair_header_fragment(piece)))
        else:
            elems = json.loads(wrap_array_payload(piece))
            assert len(elems) == c.n_elements
            split = [json.loads(e) for e in split_elements(piece)]
            assert split == elems
            arrays.setdefault(c.header_key, []).extend(elems)
            n_elems[c.header_key] = n_elems.get(c.header_key, 0) + len(elems)
    return headers, arrays, chunks


def check_roundtrip(raw: bytes, chunk_target: int, read_size: int):
    doc = json.loads(raw)
    headers, arrays, chunks = reassemble(raw, chunk_target, read_size)
    for k, v in doc.items():
        if isinstance(v, list):
            assert arrays.get(k, []) == v, f"array {k} mismatch"
        else:
            assert headers.get(k) == v, f"header field {k} mismatch"
    # empty top-level arrays have no elements, hence no chunks
    assert set(arrays) == {k for k, v in doc.items() if isinstance(v, list) and v}
    return chunks


@pytest.mark.parametrize("shape", CMS_SHAPES)
@pytest.mark.parametrize("read_size", [64 * 1024, 97, 256])
def test_cms_fixtures_roundtrip(cms_samples, shape, read_size):
    raw = open(cms_samples[shape], "rb").read()
    chunks = check_roundtrip(raw, chunk_target=1024, read_size=read_size)
    assert len(chunks) > 2  # header, both arrays: the splitter really split


def test_gz_fixture_roundtrip(cms_samples, tmp_path):
    gz = str(tmp_path / "in-network-rates-ffs-sample.json.gz")
    with open(cms_samples["ffs"], "rb") as src, gzip.open(gz, "wb") as dst:
        dst.write(src.read())
    raw = gzip.open(gz, "rb").read()
    check_roundtrip(raw, chunk_target=512, read_size=128)


def test_synthetic_roundtrip(tmp_path):
    p = os.path.join(tmp_path, "synth.json")
    write_mrf_file(p, n_in_network=200, n_provider_refs=30, seed=7)
    raw = open(p, "rb").read()
    chunks = check_roundtrip(raw, chunk_target=4096, read_size=1000)
    in_net = [c for c in chunks if c.header_key == "in_network"]
    assert sum(c.n_elements for c in in_net) == 200
    # chunk sizing: every chunk except per-array tails stays near target
    for c in in_net[:-1]:
        assert c.end - c.start + 1 >= 4096 or c.n_elements == 1


@pytest.mark.parametrize("seed", range(8))
def test_property_random_buffer_boundaries(tmp_path, seed):
    """Random read sizes must never change the reassembled document."""
    import random

    rng = random.Random(seed)
    p = os.path.join(tmp_path, "synth.json")
    write_mrf_file(
        p,
        n_in_network=rng.randint(1, 60),
        n_provider_refs=rng.randint(1, 12),
        seed=seed,
        indent=bool(seed % 2),
    )
    raw = open(p, "rb").read()
    check_roundtrip(
        raw,
        chunk_target=rng.choice([300, 1024, 10**7]),
        read_size=rng.choice([71, 128, 1023, 65536]),
    )


def test_unicode_and_escapes_roundtrip():
    doc = {
        "name": 'payer "A" \\ EUR cost: 12',
        "note": "ünïcødé — 医療費 🏥",
        "in_network": [
            {"billing_code": "x]y}z", "desc": "brackets ][ in } strings {"},
            {"billing_code": "esc\\\"aped", "v": [1, 2, 3]},
        ],
        "provider_references": [{"provider_group_id": 1, "u": "日本語テキスト"}],
        "version": "1.0.0",
    }
    raw = json.dumps(doc, ensure_ascii=False, indent=1).encode("utf-8")
    check_roundtrip(raw, chunk_target=64, read_size=37)


def test_scalar_and_nested_top_level_arrays():
    doc = {
        "a": [1, 2.5, "three", None, True],
        "b": [[1, 2], [3]],
        "c": [],
        "k": "v",
    }
    raw = json.dumps(doc).encode()
    check_roundtrip(raw, chunk_target=8, read_size=5)


def test_empty_object():
    headers, arrays, chunks = reassemble(b"{}", 1024, 64)
    assert headers == {} and arrays == {}


def test_malformed_raises():
    with pytest.raises(MalformedMRFError):
        list(ChunkScanner(io.BytesIO(b'{"a": [1, 2'), 64, 8).scan())
    with pytest.raises(MalformedMRFError):
        list(ChunkScanner(io.BytesIO(b"[1, 2]"), 64, 8).scan())


def test_element_larger_than_read_buffer():
    big = {"in_network": [{"d": "x" * 100_000}, {"d": "y" * 50}], "h": 1}
    raw = json.dumps(big).encode()
    chunks = check_roundtrip(raw, chunk_target=1024, read_size=256)
    assert sum(c.n_elements for c in chunks if c.header_key == "in_network") == 2


# ---------------------------------------------------------------------------
# hypothesis: arbitrary JSON objects x arbitrary buffer geometry
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings, strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:
    # strings that stress the scanner: quotes, backslashes, brackets,
    # commas, unicode, whitespace
    _nasty_text = st.text(
        alphabet=st.sampled_from('ab"\\{}[],: \t\né中'),
        max_size=12,
    )
    _scalar = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(-10**12, 10**12),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        _nasty_text,
    )
    _value = st.recursive(
        _scalar,
        lambda children: st.one_of(
            st.lists(children, max_size=4),
            st.dictionaries(_nasty_text, children, max_size=4),
        ),
        max_leaves=12,
    )
    _doc = st.dictionaries(
        _nasty_text.filter(bool),
        st.one_of(_value, st.lists(_value, max_size=8)),
        max_size=8,
    )

    @settings(max_examples=150, deadline=None)
    @given(
        doc=_doc,
        chunk_target=st.integers(8, 4096),
        read_size=st.integers(16, 2048),
        indent=st.sampled_from([None, 1]),
    )
    def test_hypothesis_roundtrip(doc, chunk_target, read_size, indent):
        raw = json.dumps(doc, indent=indent).encode("utf-8")
        check_roundtrip(raw, chunk_target=chunk_target, read_size=read_size)


def test_prefetch_pipeline_identical_to_inline(tmp_path, monkeypatch):
    """The read-ahead pipeline (threaded stage-A classification of
    read_size blocks) must produce byte-identical manifests to the
    synchronous path — block classifications concatenate exactly, by
    construction (_classify is state-free)."""
    from hls_payer_mrf_sparkstreaming_spark.sources import chunker

    p = str(tmp_path / "m.json")
    write_mrf_file(p, n_in_network=4000, n_provider_refs=300, seed=11)
    assert os.path.getsize(p) > 3 * chunker._PREFETCH_MIN_READ
    monkeypatch.setenv(chunker._PREFETCH_ENV, "0")
    inline = list(chunker.scan_chunks(p, read_size=chunker._PREFETCH_MIN_READ))
    monkeypatch.setenv(chunker._PREFETCH_ENV, "1")
    threaded = list(
        chunker.scan_chunks(p, read_size=chunker._PREFETCH_MIN_READ)
    )
    assert threaded == inline
    assert len(threaded) > 1


def test_prefetch_abandoned_scan_retires_thread(tmp_path, monkeypatch):
    """Dropping a scan generator mid-pull must not park the prefetch
    thread forever (the weakref finalizer stops it)."""
    import gc
    import threading
    import time as _time

    from hls_payer_mrf_sparkstreaming_spark.sources import chunker

    p = str(tmp_path / "m.json")
    write_mrf_file(p, n_in_network=4000, n_provider_refs=300, seed=12)
    monkeypatch.setenv(chunker._PREFETCH_ENV, "1")
    g = chunker.scan_chunks(p, read_size=chunker._PREFETCH_MIN_READ)
    next(g)  # start the scan (and the prefetcher)
    g.close()
    del g
    gc.collect()
    deadline = _time.time() + 10
    while _time.time() < deadline:
        if not any(
            t.name == "mrf-prefetch" and t.is_alive()
            for t in threading.enumerate()
        ):
            break
        _time.sleep(0.2)
    assert not any(
        t.name == "mrf-prefetch" and t.is_alive()
        for t in threading.enumerate()
    )


def test_prefetch_io_error_keeps_identity(tmp_path):
    """A mid-scan read failure must surface as the REAL I/O exception,
    not as a clean EOF (silently truncated manifest) or a misleading
    MalformedMRFError — the prefetch thread hands the exception to the
    consumer through the queue (advice r9)."""
    from hls_payer_mrf_sparkstreaming_spark.sources import chunker

    p = str(tmp_path / "m.json")
    write_mrf_file(p, n_in_network=4000, n_provider_refs=300, seed=13)
    with open(p, "rb") as f:
        data = f.read()
    assert len(data) > 2 * chunker._PREFETCH_MIN_READ

    class FailingStream:
        def __init__(self, raw, fail_at):
            self._raw, self._pos, self._fail = raw, 0, fail_at

        def read(self, n):
            if self._pos >= self._fail:
                raise OSError("mid-scan I/O failure")
            out = self._raw[self._pos : self._pos + n]
            self._pos += len(out)
            return out

    for prefetch in (False, True):
        stream = FailingStream(data, chunker._PREFETCH_MIN_READ)
        scanner = ChunkScanner(
            stream,
            read_size=chunker._PREFETCH_MIN_READ,
            prefetch=prefetch,
        )
        with pytest.raises(OSError, match="mid-scan I/O failure"):
            list(scanner.scan())


def test_prefetch_pool_failure_cannot_hang_consumer(tmp_path, monkeypatch):
    """If the classify ThreadPoolExecutor itself cannot be created
    ("can't start new thread" on a loaded host), the reader thread must
    still hand a sentinel to the consumer — the scan fails fast with the
    real error instead of parking forever on q.get() (advice r9)."""
    import threading

    from hls_payer_mrf_sparkstreaming_spark.sources import chunker

    p = str(tmp_path / "m.json")
    write_mrf_file(p, n_in_network=4000, n_provider_refs=300, seed=14)

    def boom():
        raise RuntimeError("can't start new thread")

    monkeypatch.setattr(chunker, "_classify_pool", boom)
    result: list = []

    def run():
        try:
            list(chunker.scan_chunks(p, read_size=chunker._PREFETCH_MIN_READ))
            result.append(("ok", None))
        except Exception as exc:  # noqa: BLE001 — recording for the assert
            result.append(("err", exc))

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(30)
    assert not t.is_alive(), "scan hung on a dead prefetch producer"
    kind, exc = result[0]
    assert kind == "err" and "can't start new thread" in str(exc)


def test_prefetch_concurrent_scans_share_classify_pool(tmp_path, monkeypatch):
    """Two scans running concurrently in one process (the executor-side
    Python worker situation) must share ONE classify pool and still each
    produce the exact synchronous manifest."""
    import threading

    from hls_payer_mrf_sparkstreaming_spark.sources import chunker

    paths = []
    for i in (15, 16):
        p = str(tmp_path / f"m{i}.json")
        write_mrf_file(p, n_in_network=4000, n_provider_refs=300, seed=i)
        paths.append(p)
    expected = [
        list(chunker.scan_chunks(p, read_size=chunker._PREFETCH_MIN_READ,
                                 prefetch=False))
        for p in paths
    ]
    monkeypatch.setenv(chunker._PREFETCH_ENV, "1")
    results: dict[int, list] = {}

    def run(i):
        results[i] = list(
            chunker.scan_chunks(
                paths[i], read_size=chunker._PREFETCH_MIN_READ
            )
        )

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert results[0] == expected[0]
    assert results[1] == expected[1]
    # creation is idempotent: the module-level pool object is shared
    assert chunker._classify_pool() is chunker._classify_pool()


def test_scan_chunks_prefetch_arg_does_not_touch_env(tmp_path):
    """prefetch=False is an explicit argument, not an os.environ mutation:
    a distributed-discovery scan in a local-mode process must not disable
    the pipeline for later scans in the same process (advice r9)."""
    import os as _os

    from hls_payer_mrf_sparkstreaming_spark.sources import chunker

    p = str(tmp_path / "m.json")
    write_mrf_file(p, n_in_network=500, n_provider_refs=50, seed=17)
    before = _os.environ.get(chunker._PREFETCH_ENV)
    sync = list(chunker.scan_chunks(p, prefetch=False))
    assert _os.environ.get(chunker._PREFETCH_ENV) == before
    assert list(chunker.scan_chunks(p)) == sync
