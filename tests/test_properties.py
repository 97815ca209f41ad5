"""Property-based tests (hypothesis): canonicalization idempotence,
SURT stability, codec roundtrips, Bloom position validity."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from common_crawl___autumn_2025_spark.canonical import (
    canonicalize,
    registered_domain,
    surt,
)
from common_crawl___autumn_2025_spark.codecs import (
    decode_image,
    encode_image,
    phash64,
)
from common_crawl___autumn_2025_spark.crawl.hashing import xxh64_str
from common_crawl___autumn_2025_spark.crawl.seen import (
    bloom_bitmap,
    bloom_positions,
    bloom_probe,
    packed_test,
)

host_label = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=8
)
hosts = st.builds(
    lambda a, b, tld: f"{a}.{b}.{tld}",
    host_label,
    host_label,
    st.sampled_from(["com", "org", "co.uk", "gov.uk", "io"]),
)
paths = st.lists(host_label, max_size=3).map(lambda p: "/" + "/".join(p))
urls = st.builds(
    lambda scheme, host, path: f"{scheme}{host}{path}",
    st.sampled_from(["http://", "https://", "", "http://www."]),
    hosts,
    paths,
)


@settings(max_examples=200, deadline=None)
@given(urls)
def test_canonicalize_idempotent(url):
    once = canonicalize(url)
    assert canonicalize(once) == once


@settings(max_examples=200, deadline=None)
@given(urls)
def test_surt_stable_under_canonicalization(url):
    assert surt(url) == surt(canonicalize(url))
    # www + scheme variants share the surt key
    cu = canonicalize(url)
    if "://www." not in cu:
        www = cu.replace("://", "://www.", 1)
        assert surt(www) == surt(cu)


@settings(max_examples=200, deadline=None)
@given(hosts)
def test_registered_domain_is_suffix_and_stable(host):
    rd = registered_domain(host)
    assert rd == "" or host.endswith(rd)
    assert registered_domain(rd) == rd  # idempotent


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**32),
    st.integers(min_value=8, max_value=40),
    st.integers(min_value=8, max_value=40),
    st.sampled_from(["png", "ppm"]),
)
def test_codec_roundtrip_random_images(seed, h, w, fmt):
    g = np.random.Generator(np.random.PCG64(seed))
    img = g.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    back = decode_image(encode_image(img, fmt), fmt)
    assert np.array_equal(img, back)
    assert phash64(back) == phash64(img)


@settings(max_examples=200, deadline=None)
@given(st.text(min_size=1, max_size=60))
def test_bloom_positions_valid_and_deterministic(s):
    bits = 1 << 12
    pos = bloom_positions(s, bits, 5)
    assert len(pos) == 5
    assert all(0 <= p < bits for p in pos)
    assert pos == bloom_positions(s, bits, 5)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.text(max_size=40), min_size=1, max_size=50),
    st.lists(st.text(max_size=40), max_size=50),
    st.sampled_from([1 << 6, 1 << 10, 1 << 14]),
    st.integers(min_value=1, max_value=8),
)
def test_bloom_kernels_agree_and_never_miss(added, probed, bits, k):
    """The build kernel sets every position of every added key (the
    probe kernel finds all of them), and the vectorized probe agrees
    with the scalar ``packed_test`` on added and random keys alike."""
    def h1(keys):
        return np.array([xxh64_str(s) for s in keys], dtype=np.uint64)

    bm = bloom_bitmap(h1(added), bits, k)
    assert bm.dtype == np.uint8 and bm.nbytes == bits // 8
    assert bloom_probe(bm, h1(added), bits, k).all()
    keys = added + probed
    assert bloom_probe(bm, h1(keys), bits, k).tolist() == [
        packed_test(bm, bloom_positions(s, bits, k)) for s in keys
    ]


@settings(max_examples=200, deadline=None)
@given(urls, st.sampled_from(["/about", "img/x.png", "//cdn.ex.com/j.js",
                              "https://abs.org/p", "?q=1", "child"]))
def test_urljoin_always_absolute_and_absorbs_absolute(base, href):
    base_c = canonicalize(base)
    joined = canonicalize(href, base=base_c)
    assert "://" in joined  # always absolute
    assert canonicalize(joined) == joined  # canonical output
    # an absolute href ignores the base entirely
    if href.startswith("https://"):
        assert joined == canonicalize(href)


@settings(max_examples=200, deadline=None)
@given(hosts, hosts, st.sampled_from(["about", "contact", "legal"]))
def test_admit_link_scope_mode_invariants(page_host, link_host, kw):
    from common_crawl___autumn_2025_spark.canonical import host_of
    from common_crawl___autumn_2025_spark.crawl.frontier import (
        CrawlSpec,
        admit_link,
    )

    page_url = f"http://{page_host}/"
    href = f"http://{link_host}/{kw}"
    p9 = CrawlSpec()
    got = admit_link(p9, page_url, page_host, href)
    if got is not None:  # P9: admitted links stay on the registered domain
        assert registered_domain(host_of(got)) == registered_domain(page_host)
    p8 = CrawlSpec(scope_mode="exclude_same_netloc")
    got8 = admit_link(p8, page_url, page_host, href)
    if got8 is not None:  # P8: admitted links always leave the netloc
        assert host_of(got8) != host_of(canonicalize(page_url))


# -- JPEG codec properties ---------------------------------------------------

@settings(max_examples=12, deadline=None)
@given(
    st.integers(min_value=8, max_value=40),
    st.integers(min_value=8, max_value=40),
    st.integers(min_value=60, max_value=100),
    st.sampled_from(["444", "422", "420"]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_jpeg_progressive_equals_sequential_property(h, w, quality, sub, seed):
    """For ANY image/quality/subsampling, progressive (SOF2) encoding
    must decode bit-identically to sequential: both carry the same
    quantized coefficients and the entropy layer is lossless, so any
    defect in spectral selection, successive approximation, EOB runs
    or the optimal-Huffman writer breaks equality."""
    import numpy as np

    from common_crawl___autumn_2025_spark.jpeg import decode_jpeg, encode_jpeg

    img = np.random.Generator(np.random.PCG64(seed)).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    seq = decode_jpeg(encode_jpeg(img, quality=quality, subsampling=sub))
    pro = decode_jpeg(
        encode_jpeg(img, quality=quality, subsampling=sub, progressive=True)
    )
    assert seq.shape == img.shape
    assert np.array_equal(seq, pro)
