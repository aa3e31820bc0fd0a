"""Property-based tests (hypothesis) over the pure-Python kernels —
no Spark session needed, so these run in milliseconds."""

import string

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from azuresearchcrawlervector_spark.core.embed import pseudo_embed
from azuresearchcrawlervector_spark.core.htmlkit import extract_page
from azuresearchcrawlervector_spark.core.images import (
    QUANT_STEP, generate_pixels, png_decode, png_encode, psnr,
    qpng_decode, qpng_encode,
)
from azuresearchcrawlervector_spark.core.urls import canonicalize, href_is_crawlable, host_of
from azuresearchcrawlervector_spark.core.xxh import xxh64
from azuresearchcrawlervector_spark.operators.seen import BloomFilter

url_text = st.text(
    alphabet=string.ascii_letters + string.digits + "-._~/?#[]@!$&'()*+,;=%",
    min_size=0, max_size=60,
)


@given(url_text)
@settings(max_examples=200)
def test_canonicalize_idempotent(path):
    u = canonicalize("http://example.com/base/", path)
    if u is not None:
        assert canonicalize(None, u) == u  # canonical form is a fixpoint
        assert u.startswith("http://") or u.startswith("https://")
        assert "#" not in u  # fragments always dropped
        h = host_of(u)
        assert h == h.lower()


@given(st.text(max_size=40))
@settings(max_examples=200)
def test_href_filter_never_crashes(href):
    assert href_is_crawlable(href) in (True, False)


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=200)
def test_xxh64_is_64bit_and_deterministic(data):
    h = xxh64(data)
    assert 0 <= h < (1 << 64)
    assert xxh64(data) == h


@given(st.integers(1, 64), st.integers(1, 64), st.text(max_size=12))
@settings(max_examples=25, deadline=None)
def test_png_roundtrip_any_size(w, h, seed):
    px = generate_pixels(f"prop-{seed}", w, h)
    assert np.array_equal(png_decode(png_encode(px)), px)


@given(st.integers(8, 48), st.integers(8, 48), st.text(max_size=12))
@settings(max_examples=25, deadline=None)
def test_qpng_error_bounded(w, h, seed):
    px = generate_pixels(f"prop-{seed}", w, h)
    dec = qpng_decode(qpng_encode(px))
    err = np.abs(px.astype(int) - dec.astype(int)).max()
    assert err < QUANT_STEP           # quantization bound
    assert psnr(px, dec) >= 40.0      # the input_hint invariant always holds


@given(st.text(max_size=300), st.integers(4, 64))
@settings(max_examples=100, deadline=None)
def test_pseudo_embed_unit_norm(text, dim):
    v = pseudo_embed(text, dim)
    assert len(v) == dim
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-3
    assert np.array_equal(v, pseudo_embed(text, dim))


@given(st.text(alphabet=string.printable, max_size=400))
@settings(max_examples=150, deadline=None)
def test_extract_page_total(html):
    # never crashes, always returns the triple, links in document order
    title, content, links = extract_page(html)
    assert isinstance(title, str) and isinstance(content, str)
    assert [p for _h, p, _s in links] == sorted(p for _h, p, _s in links)


@given(st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=500, unique=True))
@settings(max_examples=50, deadline=None)
def test_bloom_never_false_negative(keys):
    bf = BloomFilter(1 << 12)
    arr = np.array(keys, dtype=np.int64)
    bf.add_many(arr)
    assert bf.contains_many(arr).all()

