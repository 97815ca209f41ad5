"""Properties of the sketch/similarity operators: MinHash LSH (plus
its SQL-unrolled xxhash64 oracle), SimHash, random-hyperplane ANN,
rolling fingerprints."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from common_crawl___autumn_2025_spark.functions.text import (
    rolling_fingerprint,
    simhash64,
)
from common_crawl___autumn_2025_spark.operators.dedup import (
    lsh_candidates,
    minhash_signatures,
)
from common_crawl___autumn_2025_spark.operators.similarity import (
    ann_topk,
    hyperplanes,
)


def _vocab_doc(rng, n=40):
    return " ".join(f"tok{int(i)}" for i in rng.integers(0, 500, size=n))


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """60 random docs + 10 planted near-duplicates (1 token changed)."""
    rng = np.random.Generator(np.random.PCG64(7))
    rows = []
    for i in range(60):
        rows.append((i, _vocab_doc(rng)))
    for i in range(10):
        toks = rows[i][1].split()
        toks[5] = "MUTATED"
        rows.append((1000 + i, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _exact_jaccard_pairs(rows, threshold):
    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {r[0]: shingles(r[1]) for r in rows}
    out = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= threshold:
                out.add((a, b))
    return out


def test_minhash_lsh_finds_planted_dups(spark, near_dup_docs):
    rows = [(r.doc_id, r.text) for r in near_dup_docs.collect()]
    truth = _exact_jaccard_pairs(rows, 0.8)
    assert len(truth) >= 10  # the planted pairs
    sigs = minhash_signatures(near_dup_docs)
    cands = {
        (r.doc_a, r.doc_b) for r in lsh_candidates(sigs).collect()
    }
    # LSH candidates must cover (essentially) all true near-dup pairs
    missed = truth - cands
    assert len(missed) == 0, f"LSH missed true pairs: {missed}"
    # and not degenerate to all-pairs
    n = near_dup_docs.count()
    assert len(cands) < n * (n - 1) / 4


def test_minhash_signature_similarity_estimates_jaccard(spark, near_dup_docs):
    sigs = {r.doc_id: list(r.sig) for r in minhash_signatures(near_dup_docs).collect()}
    # planted pair: high signature agreement; random pair: low
    agree = lambda a, b: sum(x == y for x, y in zip(sigs[a], sigs[b])) / len(sigs[a])  # noqa: E731
    assert agree(0, 1000) > 0.6
    assert agree(0, 1) < 0.4


def test_simhash_jvm_matches_python_and_oracle(spark):
    """The d04 Catalyst expression, the Python mirror, and the DuckDB
    SQL oracle all produce the same signed 64-bit fingerprint —
    including the empty-text (0) and NULL-text (NULL) edges and a
    multi-space text where split-and-drop-empties matters."""
    import duckdb

    from common_crawl___autumn_2025_spark.functions.text import (
        simhash64_sql_expr,
    )
    from common_crawl___autumn_2025_spark.operators.dedup import (
        _d04_oracle_sql,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, ""),
        (3, None),
        (4, "x  x x"),
        (5, " ".join(f"tok{i % 17}" for i in range(300))),
    ]
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])
    engine = {
        r.doc_id: r.simhash
        for r in sdf.selectExpr(
            "doc_id", simhash64_sql_expr("text") + " AS simhash"
        ).collect()
    }
    mirror = {
        d: (None if t is None else simhash64(t)) for d, t in rows
    }
    assert engine == mirror
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = dict(con.sql(_d04_oracle_sql()).fetchall())
    assert engine == oracle


def test_simhash_band_neardup_exact_semantics(spark, tmp_path):
    """d07's banded join returns EXACTLY the pairs at hamming <= 3
    (pigeonhole over four 16-bit bands loses nothing), so it must
    equal a brute-force O(n^2) sweep over the Python-mirror
    fingerprints — planted exact dups, a one-token mutation, and
    token-free/NULL docs that must be excluded."""
    from common_crawl___autumn_2025_spark.operators.dedup import (
        d07_simhash_band_neardup,
    )

    rng = np.random.Generator(np.random.PCG64(11))
    rows = [(i, _vocab_doc(rng)) for i in range(40)]
    rows.append((100, rows[0][1]))  # exact dup -> hamming 0
    rows.append((101, rows[1][1] + " extra"))
    rows.append((102, ""))  # token-free: excluded
    rows.append((103, "   "))  # spaces only: excluded
    rows.append((104, None))  # NULL: excluded
    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        sf_dir + "/documents.parquet"
    )
    engine = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in d07_simhash_band_neardup(spark, sf_dir).collect()
    }
    fps = [
        (d, simhash64(t)) for d, t in rows if t is not None and t.strip()
    ]
    brute = set()
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            (da, ha), (db, hb) = fps[i], fps[j]
            ham = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if ham <= 3:
                brute.add((min(da, db), max(da, db), ham))
    assert {(a, b) for a, b, _ in engine} == {(a, b) for a, b, _ in brute}
    assert engine == brute
    assert any(h == 0 for _, _, h in engine)  # the planted exact dup


def test_simhash_properties():
    doc = " ".join(f"w{i}" for i in range(50))
    one_off = " ".join(("XX" if i == 7 else f"w{i}") for i in range(50))
    other = " ".join(f"z{i}" for i in range(50))
    ham = lambda a, b: bin((simhash64(a) ^ simhash64(b)) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(doc, doc) == 0
    assert ham(doc, one_off) <= 8
    assert ham(doc, other) >= 16


def test_ann_recall_on_planted_neighbors(spark):
    """LSH ANN must retrieve planted near-duplicate vectors (cos≈1)."""
    rng = np.random.Generator(np.random.PCG64(11))
    base = rng.normal(size=(80, 64)).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(80)]
    # 10 queries = tiny perturbations of vectors 0..9
    queries = []
    for i in range(10):
        v = base[i] + rng.normal(scale=0.01, size=64).astype("float32")
        queries.append((100 + i, v.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<float>")
    planes = hyperplanes(dim=64)
    got = ann_topk(emb, qdf, planes, k=1)
    top1 = {r.query_id: r.hit_id for r in got.collect()}
    hits = sum(1 for i in range(10) if top1.get(100 + i) == i)
    assert hits >= 9, f"ANN missed planted neighbors: {top1}"


def test_rolling_fingerprint_properties():
    a = "the quick brown fox jumps over the lazy dog"
    assert rolling_fingerprint(a) == rolling_fingerprint(a)
    # min-window sketch: appending text can only lower the min -> the
    # fingerprint of a superstring is <= (sketch robustness property)
    assert rolling_fingerprint(a + " x") <= rolling_fingerprint(a)
    # disjoint content -> different fingerprint
    assert rolling_fingerprint(a) != rolling_fingerprint("zzz yyy xxx www vvv uuu")
    assert rolling_fingerprint("") >= 0


def test_exact_dup_operator_finds_planted(spark, sf_dir):
    from common_crawl___autumn_2025_spark.plans.catalog import QUERIES

    out = QUERIES["d01_exact_dup"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 50
    assert all(r.n_copies == 2 for r in rows)


def test_phash_near_dup_self_consistency(spark, sf_dir):
    from common_crawl___autumn_2025_spark.plans.catalog import QUERIES

    out = QUERIES["m03_phash_near_dup"](spark, sf_dir).collect()
    for r in out:
        assert r.hamming <= 16
        assert r.img_a < r.img_b


def test_shingle_df_cap_bounds_hot_bucket(spark):
    """A universal shingle planted across many docs must not create a
    quadratic candidate bucket: with the cap, docs sharing ONLY the
    hot shingle produce zero pairs, while genuinely-near-dup pairs
    (sharing rare shingles) survive."""
    from common_crawl___autumn_2025_spark.operators.dedup import (
        shingle_jaccard_pairs,
    )

    rng = np.random.Generator(np.random.PCG64(11))
    rows = []
    # 300 unrelated docs that ALL share one stop-shingle prefix
    for i in range(300):
        uniq = " ".join(f"u{i}t{int(j)}" for j in rng.integers(0, 10000, size=20))
        rows.append((i, "the common stop " + uniq))
    # one genuine near-dup pair built from rare tokens
    base = " ".join(f"rare{int(j)}" for j in rng.integers(0, 100, size=30))
    rows.append((9001, base))
    rows.append((9002, base + " tail"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in shingle_jaccard_pairs(docs, max_df=64).collect()
    }
    assert (9001, 9002) in pairs
    # no pair among the 300 stop-shingle docs: the hot bucket is gone
    assert not any(a < 300 and b < 300 for a, b in pairs)


def test_ivf_recall_on_planted_neighbors(spark):
    """IVF-Flat ANN retrieves planted near-duplicates: a query that is
    a tiny perturbation of corpus vector i lands in the same probed
    cells and i comes back as the top hit."""
    from common_crawl___autumn_2025_spark.operators.similarity import (
        ivf_topk,
    )

    rng = np.random.Generator(np.random.PCG64(13))
    base = rng.normal(size=(120, 64)).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(120)]
    queries = []
    for i in range(10):
        v = base[i] + rng.normal(scale=0.01, size=64).astype("float32")
        queries.append((500 + i, v.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<float>")
    centroids = base[:16].astype("float64")  # sampled-centroid init
    got = ivf_topk(emb, qdf, centroids, nprobe=4, k=1)
    top1 = {r.query_id: r.hit_id for r in got.collect()}
    hits = sum(1 for i in range(10) if top1.get(500 + i) == i)
    assert hits >= 9, f"IVF missed planted neighbors: {top1}"


def test_ivf_candidate_volume_bounded(spark):
    """The IVF join only compares a query against its probed cells:
    candidate count per query is far below the corpus size (the
    all-pairs collapse LSH/IVF exist to avoid)."""
    from common_crawl___autumn_2025_spark.operators.similarity import (
        ivf_assign_udfs,
    )
    from pyspark.sql import functions as F

    rng = np.random.Generator(np.random.PCG64(17))
    base = rng.normal(size=(400, 64)).astype("float32")
    emb = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    cell_udf, _ = ivf_assign_udfs(base[:16].astype("float64"), nprobe=4)
    sizes = (
        emb.select(cell_udf("embedding").alias("cell"))
        .groupBy("cell").count().collect()
    )
    total = sum(r["count"] for r in sizes)
    assert total == 400
    # 4 probed cells of ~25 avg -> ~100 candidates/query vs 400 corpus
    assert max(r["count"] for r in sizes) < 400 / 2


def test_dup_components_known_graph(spark):
    """Label propagation finds exact components on a known graph:
    a 4-chain, a triangle, and a pair — component = min id, csize
    correct, iteration count bounded by the diameter."""
    from common_crawl___autumn_2025_spark.operators.dedup import (
        dup_components,
    )

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),          # chain -> comp 1, size 4
            (10, 11), (11, 12), (10, 12),    # triangle -> comp 10, size 3
            (20, 21),                        # pair -> comp 20, size 2
        ],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: (r.component, r.csize)
        for r in dup_components(pairs).collect()
    }
    assert got == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
        10: (10, 3), 11: (10, 3), 12: (10, 3),
        20: (20, 2), 21: (20, 2),
    }


def test_star_components_equal_label_propagation(spark):
    """The O(log n) large-star/small-star algorithm must produce the
    exact same components as min-label propagation — on the known
    graph AND on a random graph with long chains (where the star
    algorithm's round bound actually matters)."""
    from common_crawl___autumn_2025_spark.operators.dedup import (
        dup_components,
        dup_components_star,
    )

    known = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    rng = np.random.Generator(np.random.PCG64(31))
    # a 60-node chain (diameter 59) + random noise edges
    chain = [(i, i + 1) for i in range(100, 160)]
    noise = [
        (int(a), int(b))
        for a, b in rng.integers(200, 400, size=(120, 2))
        if a != b
    ]
    rand = spark.createDataFrame(chain + noise, "doc_a long, doc_b long")
    for pairs in (known, rand):
        lp = {
            r.doc_id: (r.component, r.csize)
            for r in dup_components(pairs, max_iters=100).collect()
        }
        star = {
            r.doc_id: (r.component, r.csize)
            for r in dup_components_star(pairs).collect()
        }
        assert star == lp


def test_label_propagation_cap_falls_back_to_star(spark):
    """A component whose diameter exceeds max_iters must NOT yield
    silently-wrong partial labels: dup_components detects the missed
    fixpoint, warns, and falls back to the O(log n) star algorithm."""
    import warnings

    from common_crawl___autumn_2025_spark.operators.dedup import (
        dup_components,
        dup_components_star,
    )

    # 20-node chain, diameter 19 >> max_iters=3
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(500, 520)], "doc_a long, doc_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r.doc_id: (r.component, r.csize)
            for r in dup_components(pairs, max_iters=3).collect()
        }
    assert any(
        issubclass(w.category, RuntimeWarning) and "fixpoint" in str(w.message)
        for w in caught
    )
    want = {
        r.doc_id: (r.component, r.csize)
        for r in dup_components_star(pairs).collect()
    }
    assert got == want
    assert all(c == 500 and n == 21 for c, n in got.values())


def test_star_components_raise_without_fixpoint(spark):
    """Hitting max_iters before the star algorithm converges must
    raise, not return partial labels (without the check, max_iters=3
    on this 21-node chain returns component 500 with size 9 and every
    other node as a singleton)."""
    from common_crawl___autumn_2025_spark.operators.dedup import (
        dup_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(500, 520)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        dup_components_star(pairs, max_iters=3).collect()
    got = {r.doc_id: (r.component, r.csize) for r in dup_components_star(pairs).collect()}
    assert got == {i: (500, 21) for i in range(500, 521)}


def test_v05_kmeans_refinement(spark):
    """Distributed spherical k-means refinement must (a) preserve the
    planted-neighbor recall the raw sampled codebook achieves and
    (b) not worsen the clustering objective (mean cosine of each
    vector to its assigned centroid)."""
    from common_crawl___autumn_2025_spark.operators.similarity import (
        ivf_topk,
        kmeans_refine,
    )

    rng = np.random.Generator(np.random.PCG64(31))
    base = rng.normal(size=(150, 64)).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(150)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    init = base[:16].astype("float64")
    refined = kmeans_refine(emb, init, iters=2)
    assert refined.shape == init.shape
    assert not np.allclose(refined, init)  # it actually moved

    def objective(cents):
        m = base.astype("float64")
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        return float((mn @ cn.T).max(axis=1).mean())

    assert objective(refined) >= objective(init) - 1e-9

    queries = []
    for i in range(10):
        v = base[i] + rng.normal(scale=0.01, size=64).astype("float32")
        queries.append((500 + i, v.tolist()))
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<float>")
    got = ivf_topk(emb, qdf, refined, nprobe=4, k=1)
    top1 = {r.query_id: r.hit_id for r in got.collect()}
    hits = sum(1 for i in range(10) if top1.get(500 + i) == i)
    assert hits >= 9, f"refined IVF missed planted neighbors: {top1}"


def test_e05_image_curation_drops_planted_twins(spark):
    """The image-curation pipeline must drop (only) near-duplicate
    re-encodes: every dropped id is a planted 4:2:0-JPEG twin, the
    vast majority of twins are caught (banded-phash recall), no
    original is ever dropped, and each caught twin's component is
    rooted at its own original (pairing correctness)."""
    from common_crawl___autumn_2025_spark.operators.dedup import (
        dup_components_star,
    )
    from common_crawl___autumn_2025_spark.operators.multimodal import (
        E05_N,
        E05_TWIN_OFFSET,
        e05_image_curation,
    )
    import common_crawl___autumn_2025_spark.operators.multimodal as mm

    out = {r.fmt: r for r in e05_image_curation(spark, "").collect()}
    n_twins = len([i for i in range(E05_N) if i % 3 == 0])
    total_in = sum(r.n_in for r in out.values())
    total_dropped = sum(r.n_dropped for r in out.values())
    assert total_in == E05_N + n_twins
    # only jpeg rows can be dropped (twins are jpeg; pipeline found
    # no spurious duplicates among the originals)
    assert out["png"].n_dropped == 0 and out["ppm"].n_dropped == 0
    assert total_dropped >= int(0.8 * n_twins)

    # pairing correctness on the re-derived component structure
    from pyspark.sql import functions as F

    base = mm.syn.records_df(spark, E05_N, seed=11, fmts=("png", "ppm", "jpeg"))
    # reuse the pipeline's own internals to rebuild pairs/components

    def hash_rows(pdf_iter):
        import pandas as pd

        from common_crawl___autumn_2025_spark.codecs import (
            decode_image,
            phash64,
        )

        for pdf in pdf_iter:
            yield pd.DataFrame(
                [
                    {
                        "img_id": int(r.image_id.removeprefix("img")),
                        "ph": phash64(decode_image(bytes(r.bytes), r.fmt)),
                    }
                    for r in pdf.itertuples(index=False)
                ],
                columns=["img_id", "ph"],
            )

    from common_crawl___autumn_2025_spark.jpeg import encode_jpeg
    from common_crawl___autumn_2025_spark.codecs import decode_image as dec

    twin_rows = []
    for r in base.collect():
        idx = int(r.image_id.removeprefix("img"))
        if idx % 3 == 0:
            px = dec(bytes(r.bytes), r.fmt)
            twin_rows.append(
                (idx + E05_TWIN_OFFSET, encode_jpeg(px, quality=90,
                                                    subsampling="420"))
            )
    twins = spark.createDataFrame(
        [(f"img{i:09d}", b, 0, 0, "jpeg", "", 0) for i, b in twin_rows],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    hashed = base.select("image_id", "bytes", "fmt").unionByName(
        twins.select("image_id", "bytes", "fmt")
    ).mapInPandas(hash_rows, schema="img_id long, ph long")
    comps = dup_components_star(mm.image_near_dup_pairs(hashed)).collect()
    for row in comps:
        if row.doc_id >= E05_TWIN_OFFSET:  # a caught twin...
            assert row.component == row.doc_id - E05_TWIN_OFFSET


def test_duckdb_xxh64_matches_python():
    """The SQL-unrolled XXH64 (d03's oracle primitive) is bit-equal
    to the Python mirror (itself pinned against Spark's xxhash64 by
    test_python_xxh64_matches_spark) across every length class:
    empty, byte tail, 4-byte chunk, 8-byte chunks, and multi-stripe
    inputs crossing the 32-byte boundary."""
    import random

    import duckdb

    from common_crawl___autumn_2025_spark.crawl.hashing import xxh64_str
    from common_crawl___autumn_2025_spark.functions.xxh64_sql import (
        xxh64_ctes,
    )

    rng = random.Random(7)
    strs = [""]
    for n in list(range(1, 40)) + [63, 64, 65, 95, 96, 97, 127, 128, 200]:
        strs.append("".join(chr(rng.randint(32, 126)) for _ in range(n)))
    strs += ["2147483647,2147483647", "a b c", "tok1 tok2 tok3"]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(sid INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(strs)))
    ctes, final = xxh64_ctes("hx", "t", ["sid"])
    rows = con.sql(
        f"WITH {ctes} SELECT sid, h FROM {final} ORDER BY sid"
    ).fetchall()
    assert len(rows) == len(strs)
    for sid, h in rows:
        assert int(h) == xxh64_str(strs[sid]), (sid, strs[sid])


def test_d03_oracle_matches_engine(spark, near_dup_docs):
    """The full d03 DuckDB oracle (shingle→xxh64→minhash→band→join,
    all in SQL) returns the IDENTICAL candidate-pair set as the Spark
    engine on the planted-near-dup corpus plus token-count edge cases
    (empty text, 1/2-token docs, repeated separators)."""
    import duckdb
    import pandas as pd

    from common_crawl___autumn_2025_spark.operators.dedup import (
        _d03_oracle_sql,
        lsh_candidates,
        minhash_signatures,
    )

    edge = spark.createDataFrame(
        [
            (2000, ""),
            (2001, "one"),
            (2002, "two toks"),
            (2003, "a  b   c"),
            (2004, "x y z w"),
            (2005, "x y z w"),
        ],
        "doc_id long, text string",
    )
    docs = near_dup_docs.unionByName(edge)
    # ASCII precondition of the unicode()-as-byte oracle
    pdf = docs.toPandas()
    assert all(t is None or t.isascii() for t in pdf["text"])
    engine = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidates(minhash_signatures(docs)).collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(pdf))
    oracle = {(a, b) for a, b in con.sql(_d03_oracle_sql()).fetchall()}
    assert engine == oracle
    assert (2004, 2005) in engine  # identical docs always collide


def test_null_text_excluded_from_shingle_families(spark, tmp_path):
    """Regression: NULL-text docs must NOT pair with empty-text docs.
    _shingles' otherwise-branch used to concat_ws a NULL token array
    into the same "" shingle an empty doc gets, so two NULL docs and
    an empty doc all became mutual d02/d03 "duplicates" while the
    DuckDB oracles (NULL propagation) emitted nothing. Engine and
    oracle must now agree on a NULL-bearing corpus."""
    import duckdb

    from common_crawl___autumn_2025_spark.operators.dedup import (
        _d03_oracle_sql,
        d02_shingle_jaccard,
        d03_minhash_lsh,
    )
    from common_crawl___autumn_2025_spark.plans import ORACLE_SQL

    rows = [
        (0, None),
        (1, ""),
        (2, None),
        (3, "alpha beta gamma delta epsilon"),
        (4, "alpha beta gamma delta zeta"),
    ]
    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        sf_dir + "/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    d02_engine = sorted(
        (r.doc_a, r.doc_b) for r in d02_shingle_jaccard(spark, sf_dir).collect()
    )
    d02_oracle = sorted(con.sql(ORACLE_SQL["d02_shingle_jaccard"]).fetchall())
    assert d02_engine == d02_oracle == [(3, 4)]
    d03_engine = sorted(
        (r.doc_a, r.doc_b) for r in d03_minhash_lsh(spark, sf_dir).collect()
    )
    d03_oracle = sorted(con.sql(_d03_oracle_sql()).fetchall())
    assert d03_engine == d03_oracle
    assert all(a not in (0, 2) and b not in (0, 2) for a, b in d03_engine)
