"""Operator semantics on crafted micro-data (planted duplicates /
neighbors), independent of the driver's oracle gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbeam_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (4, "completely different words appear in this document here"),
        (5, "el gato la casa los perros es bueno aqui"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = {
        r["keep_id"]: r["n_copies"]
        for r in dedup.exact_dedup_survivors(docs).collect()
    }
    assert out[1] == 2  # docs 1 and 3 collapse, min id survives
    assert out[2] == 1 and out[4] == 1


def test_ngram_jaccard_finds_planted_pair(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, 0.5).collect()
    }
    assert pairs[(1, 3)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_lsh_equals_exhaustive(docs):
    exhaustive = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, 0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()
    }
    assert lsh == exhaustive


def test_minhash_lsh_verify_tiers_agree(spark, monkeypatch):
    """With its tier caps lowered, minhash_lsh_pairs verifies the
    sf0.01 documents' candidates in one Arrow pass
    (`_pairwise_text_jaccard`), then by the distributed array fallback
    (`_verified_jaccard_arrays`); both return the driver tier's pairs."""
    import os

    from dbeam_spark.sources.files import load_table
    from test_queries_oracle import SF_DIR

    docs = load_table(
        spark, os.path.join(os.path.dirname(SF_DIR), "sf0.01"), "documents"
    )
    tiers = []
    for name in ("_pairwise_text_jaccard", "_verified_jaccard_arrays"):
        tier = getattr(dedup, name)
        monkeypatch.setattr(
            dedup, name, lambda *a, _t=tier, _n=name: tiers.append(_n) or _t(*a)
        )

    def pairs():
        return sorted(map(tuple, dedup.minhash_lsh_pairs(docs, 0.5).collect()))

    driver = pairs()
    assert driver and tiers == []
    monkeypatch.setattr(dedup, "_DRIVER_VERIFY_PAIRS", 0)
    assert pairs() == driver
    monkeypatch.setattr(dedup, "_RAW_PAIR_CAP", 0)
    assert pairs() == driver
    assert tiers == ["_pairwise_text_jaccard", "_verified_jaccard_arrays"]


def test_bucket_group_expansion_matches_direct(spark):
    """The split _bucket_groups → _expand_bucket_pairs pipeline (the
    r9 shared-checkpoint shape inside minhash_lsh_pairs) on every
    axis: cap filtering, id_a<id_b ordering, distinct vs raw
    multiplicity — expanded from a localCheckpoint'd group frame, as
    the fallback regime reads it."""
    # bucket (0,1): ids {1,2,3}; bucket (1,1): ids {2,3} (dup pair
    # across bands); bucket (2,2): 5 ids — dropped by max_bucket=4;
    # bucket (3,3): singleton — dropped by the >1 filter
    rows = (
        [(i, 0, 1) for i in (1, 2, 3)]
        + [(i, 1, 1) for i in (2, 3)]
        + [(i, 2, 2) for i in (10, 11, 12, 13, 14)]
        + [(99, 3, 3)]
    )
    buckets = spark.createDataFrame(rows, ["sid", "band", "sig"])
    grp = dedup._bucket_groups(buckets, max_bucket=4)
    ck = grp.localCheckpoint(eager=True)
    split_raw = [
        (r.id_a, r.id_b)
        for r in dedup._expand_bucket_pairs(ck, distinct=False).collect()
    ]
    want_raw = [(1, 2), (1, 3), (2, 3), (2, 3)]  # (2,3) once per band
    assert sorted(split_raw) == want_raw
    split_distinct = {
        (r.id_a, r.id_b)
        for r in dedup._expand_bucket_pairs(ck, distinct=True).collect()
    }
    assert split_distinct == {(1, 2), (1, 3), (2, 3)}


def test_minhash_kernel_matches_bigint_reference(spark):
    """Both signature layouts against a plain-Python reference: each
    of the 128 mins is min((a·(crc32(g) & 0x7FFFFFFF) + b) mod 2³¹−1)
    over the doc's DISTINCT word 3-grams, with (a, b) drawn from
    random.Random(42); each band id folds its 4 mins as
    ((m0·M + m1)·M + m2)·M + m3 mod 2⁶⁴ (signed), M = 1000003; a doc
    under 3 tokens gets no signature; and posexplode(bands) of the
    array layout is exactly the (sid, band, sig) bucket layout."""
    import random
    import zlib

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The Quick brown fox jumps over the lazy cat"),
        (3, "two words"),  # < 3 tokens: dropped
        (4, "a b c a b c a b c a b c"),  # 3-grams repeat
        (5, "x y z"),  # exactly one 3-gram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    p = 2**31 - 1
    rng = random.Random(42)
    perm_a = [rng.randrange(1, p) for _ in range(128)]
    perm_b = [rng.randrange(0, p) for _ in range(128)]

    def signed64(v):
        v &= 2**64 - 1
        return v - 2**64 if v >= 2**63 else v

    want_mh, want_bands = {}, {}
    for sid, txt in rows:
        toks = txt.lower().split()
        grams = {" ".join(toks[i: i + 3]) for i in range(len(toks) - 2)}
        if not grams:
            continue
        xs = [zlib.crc32(g.encode()) & 0x7FFFFFFF for g in grams]
        mh = [min((a * x + b) % p for x in xs) for a, b in zip(perm_a, perm_b)]
        bands = []
        for k in range(32):
            v = 0
            for m in mh[4 * k: 4 * k + 4]:
                v = v * 1000003 + m
            bands.append(signed64(v))
        want_mh[sid], want_bands[sid] = mh, bands

    sig = dedup.minhash_signatures_with_bands_maponly(docs)
    got = {r.sid: (list(r.mh), list(r.bands)) for r in sig.collect()}
    assert set(got) == {1, 2, 4, 5}
    for sid, (mh, bands) in got.items():
        assert mh == want_mh[sid], sid
        assert bands == want_bands[sid], sid

    exploded = sorted(
        tuple(r)
        for r in sig.select(
            "sid", F.posexplode("bands").alias("band", "sig")
        ).collect()
    )
    buckets = sorted(
        tuple(r)
        for r in dedup.minhash_band_buckets_maponly(docs, min_parts=3)
        .select("sid", "band", "sig")
        .collect()
    )
    assert exploded == buckets
    assert len(buckets) == 4 * 32


def test_minhash_kernels_unpickle_without_the_package(tmp_path):
    """The batch kernels the signature closures call must ship to
    Python workers by value: a worker started outside the checkout
    cannot import this package."""
    import os
    import pickle
    import subprocess
    import sys

    from pyspark import cloudpickle

    ids, texts = [7, 8], ["the quick brown fox", "a b"]
    payload = cloudpickle.dumps(
        (dedup._minhash_matrix, dedup._band_sigs, ids, texts)
    )
    code = (
        "import pickle, sys\n"
        "kernel, bands, ids, texts = pickle.loads(sys.stdin.buffer.read())\n"
        "sids, M = kernel(ids, texts, 3)\n"
        "assert 'dbeam_spark' not in sys.modules\n"
        "sys.stdout.buffer.write(pickle.dumps((sids, M, bands(M))))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], input=payload, capture_output=True,
        cwd=tmp_path, env=env, timeout=120,
    )
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    sids, M, bands = pickle.loads(out.stdout)
    want_sids, want_M = dedup._minhash_matrix(ids, texts, 3)
    assert list(sids) == list(want_sids) == [7]
    assert (M == want_M).all()
    assert (bands == dedup._band_sigs(want_M)).all()


def test_simhash_close_for_near_dups(docs):
    fps = {
        r["sid"]: r["simhash"]
        for r in dedup.simhash_fingerprints(docs).collect()
    }

    def d(a, b):
        return bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1")

    assert d(1, 3) == 0  # identical text → identical fingerprint
    assert d(1, 2) < d(1, 4)  # near-dup closer than unrelated
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_hamming=max(d(1, 2), 1)).collect()
    }
    assert pairs[(1, 3)] == 0
    assert (1, 2) in pairs  # pigeonhole banding recalls it at its distance
    assert (1, 4) not in pairs and (4, 5) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0, 0.0]),  # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.99, 0.14, 0.0]),  # near 2
        (4, [0.0, 0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_knn_bruteforce_exact(vectors):
    out = similarity.knn_bruteforce(vectors, vectors.filter(F.col("vec_id") == 0), k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in out.collect()]
    assert got[0] == (1, 1)  # nearest is the planted neighbor


def test_embedding_dedup_pairs(vectors):
    pairs = {(r["id_a"], r["id_b"]) for r in
             similarity.embedding_dedup_pairs(vectors, 0.95).collect()}
    assert pairs == {(0, 1), (2, 3)}


def test_knn_ivf_probes_enough_cells(vectors):
    out = similarity.knn_ivf(
        vectors, vectors.filter(F.col("vec_id") == 0), k=2, n_cells=2, n_probe=2
    )
    got = [r["neighbor_id"] for r in out.collect()]
    assert got[0] == 1  # with all cells probed, IVF == exact


def test_text_expressions(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog!"), (2, "el gato es la casa")],
        ["doc_id", "text"],
    )
    out = df.select(
        "doc_id",
        text.predicted_lang(F.col("text")).alias("lang"),
        text.n_ws_tokens(F.col("text")).alias("nws"),
        text.n_bpe_tokens(F.col("text")).alias("nbpe"),
        text.fingerprint(F.col("text")).alias("fp"),
        text.quality_score(F.col("text")).alias("q"),
    ).collect()
    byid = {r["doc_id"]: r for r in out}
    assert byid[1]["lang"] == "en"
    assert byid[2]["lang"] == "es"
    assert byid[1]["nws"] == 5
    assert byid[1]["nbpe"] == 6  # 5 words + '!'
    assert 0.0 <= byid[1]["q"] <= 1.0
    # fingerprint ignores word order
    df2 = spark.createDataFrame([(1, "dog the and cat The!")], ["doc_id", "text"])
    fp2 = df2.select(text.fingerprint(F.col("text")).alias("fp")).collect()[0]["fp"]
    assert fp2 != byid[1]["fp"]  # '!' attached to a different word
    df3 = spark.createDataFrame([(1, "dog! and the The cat")], ["doc_id", "text"])
    fp3 = df3.select(text.fingerprint(F.col("text")).alias("fp")).collect()[0]["fp"]
    assert fp3 == byid[1]["fp"]


def test_multimodal_decode_stub(spark):
    df = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
    out = multimodal.decode_batch(multimodal.with_payload(df)).collect()[0]
    assert out["n_bytes"] == 5
    assert out["width"] == 5 and out["height"] == 35


def test_salted_join_equals_plain_join(spark):
    from dbeam_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [(i, i % 3) for i in range(1000)], ["id", "k"]
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "v"])
    plain = big.join(small, "k").groupBy("v").count()
    salted = salted_join(big, small, on="k", salt_buckets=4).groupBy("v").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_rh_lsh_finds_near_duplicates(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((50, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # plant two near-duplicate pairs (tiny perturbations)
    rows.append((100, [float(x) for x in base[0] + 0.01 * rng.standard_normal(16)]))
    rows.append((101, [float(x) for x in base[1] + 0.01 * rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.rh_lsh_embedding_pairs(df, 0.95).collect()
    }
    assert (0, 100) in got and (1, 101) in got  # ~0.99 recall at cos≥0.95
    exhaustive = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_dedup_pairs(df, 0.95).collect()
    }
    assert got <= exhaustive  # precision 1.0 (exact verify)


def test_rh_lsh_bucket_cap_keeps_lowest_ids(spark):
    """A degenerate bucket past max_bucket truncates to the
    LOWEST-id members deterministically: with 10 identical vectors
    and max_bucket=4, exactly the C(4,2) pairs among ids 0-3 emerge
    (every table hashes the clones into one bucket, so the cap is
    the only thing bounding the quadratic)."""
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(10)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.rh_lsh_embedding_pairs(
            df, 0.9, max_bucket=4
        ).collect()
    }
    assert got == {(a, b) for a in range(4) for b in range(a + 1, 4)}


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (one component), pair 10-11, and 20-21-22 star
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
        ["id_a", "id_b"],
    )
    out = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_sampling_deterministic(spark):
    from dbeam_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, f"doc number {i}", "en" if i % 2 else "de") for i in range(200)],
        ["doc_id", "text", "lang"],
    )
    s1 = sorted(r.doc_id for r in sampling.sample_by_hash(docs).collect())
    s2 = sorted(r.doc_id for r in sampling.sample_by_hash(docs).collect())
    assert s1 == s2 and 0 < len(s1) < 200  # stable, non-trivial subset

    strat = sampling.stratified_sample(docs, "lang", 5).collect()
    by_lang = {}
    for r in strat:
        by_lang.setdefault(r.lang, []).append(r.sample_rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_lang.values())


def test_chunk_documents_covers_text(spark):
    from dbeam_spark.operators import sampling

    docs = spark.createDataFrame([(1, "a" * 500), (2, "b" * 100)], ["doc_id", "text"])
    rows = sampling.chunk_documents(docs, chunk_size=200, stride=150).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_len))
    # doc 1: starts 1,151,301,451 -> lens 200,200,200,50
    assert sorted(by_doc[1]) == [(0, 200), (1, 200), (2, 200), (3, 50)]
    # doc 2: single short chunk
    assert sorted(by_doc[2]) == [(0, 100)]


def test_interval_join_semantics_and_plan(spark):
    from datetime import datetime

    from dbeam_spark.operators.joins import interval_join

    pts = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0, 0)),
            (2, datetime(2024, 1, 1, 1, 0, 0)),   # == hi of iv10 -> excluded
            (3, datetime(2024, 1, 1, 0, 59, 59)),
            (4, datetime(2024, 1, 3, 12, 0, 0)),  # inside 3-day interval
        ],
        ["pid", "ts"],
    )
    ivs = spark.createDataFrame(
        [
            (10, datetime(2024, 1, 1, 0, 0, 0), datetime(2024, 1, 1, 1, 0, 0)),
            (20, datetime(2024, 1, 2, 0, 0, 0), datetime(2024, 1, 5, 0, 0, 0)),
        ],
        ["iid", "lo", "hi"],
    )
    out = interval_join(pts, ivs, "ts", "lo", "hi", bucket_seconds=3600)
    got = sorted((r.pid, r.iid) for r in out.collect())
    # hi exclusive: point 2 at exactly 01:00 does NOT match iv10;
    # iv20 spans 72 buckets and still matches point 4 exactly once
    assert got == [(1, 10), (3, 10), (4, 20)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_join_matches_bruteforce_random(spark):
    import random
    from datetime import datetime, timedelta

    rng = random.Random(42)
    base = datetime(2024, 1, 1)
    pts = [
        (i, base + timedelta(seconds=rng.randint(0, 3 * 86400)))
        for i in range(200)
    ]
    ivs = []
    for j in range(40):
        lo = base + timedelta(seconds=rng.randint(0, 3 * 86400))
        hi = lo + timedelta(seconds=rng.randint(1, 2 * 86400))
        ivs.append((j, lo, hi))
    from dbeam_spark.operators.joins import interval_join

    out = interval_join(
        spark.createDataFrame(pts, ["pid", "ts"]),
        spark.createDataFrame(ivs, ["iid", "lo", "hi"]),
        "ts", "lo", "hi", bucket_seconds=7200,
    )
    got = sorted((r.pid, r.iid) for r in out.collect())
    want = sorted(
        (pid, iid)
        for pid, ts in pts
        for iid, lo, hi in ivs
        if lo <= ts < hi
    )
    assert got == want


def test_interval_count_join_matches_pair_join(spark):
    """The rank-difference count equals the pair-materializing
    interval_join + groupBy count on random data, emits ZERO-match
    intervals with n_points=0, and honors [lo, hi) half-open
    boundaries at microsecond resolution."""
    import random
    from datetime import datetime, timedelta

    from dbeam_spark.operators.joins import (
        interval_count_join,
        interval_join,
    )

    rng = random.Random(13)
    base = datetime(2024, 1, 1)
    pts = [
        (i, base + timedelta(seconds=rng.randint(0, 86400)))
        for i in range(300)
    ]
    ivs = [
        (
            j,
            base + timedelta(seconds=rng.randint(0, 86400)),
        )
        for j in range(50)
    ]
    ivs = [(j, lo, lo + timedelta(seconds=rng.randint(1, 7200)))
           for j, lo in ivs]
    # a far-future interval that matches nothing
    ivs.append((99, base + timedelta(days=30),
                base + timedelta(days=31)))
    pdf = spark.createDataFrame(pts, ["pid", "ts"])
    idf = spark.createDataFrame(ivs, ["iid", "lo", "hi"])
    got = {
        r["iid"]: r["n_points"]
        for r in interval_count_join(
            pdf, idf, "ts", "lo", "hi", id_cols=["iid"]
        ).collect()
    }
    want = {
        r["iid"]: r["n"]
        for r in interval_join(pdf, idf, "ts", "lo", "hi", 3600)
        .groupBy("iid").agg(F.count("pid").alias("n")).collect()
    }
    assert got[99] == 0  # zero-match interval IS emitted
    assert {k: v for k, v in got.items() if v > 0} == want
    # boundary exactness: point AT lo counts, point AT hi does not
    b = datetime(2024, 6, 1)
    pdf2 = spark.createDataFrame(
        [(1, b), (2, b + timedelta(hours=1))], ["pid", "ts"]
    )
    idf2 = spark.createDataFrame(
        [(7, b, b + timedelta(hours=1))], ["iid", "lo", "hi"]
    )
    out2 = interval_count_join(
        pdf2, idf2, "ts", "lo", "hi", id_cols=["iid"]
    ).collect()
    assert out2[0]["n_points"] == 1


def test_interval_count_join_null_ts_and_reserved_cols(spark):
    """Operator contract hardening: NULL-ts points are dropped (a
    pair join's range predicate never matches them — unfiltered they
    sorted FIRST under the range partition and inflated every C(t)),
    and interval id columns colliding with internal plan names raise
    a clear ValueError instead of silently mis-grouping."""
    from datetime import datetime, timedelta

    import pytest

    from dbeam_spark.operators.joins import interval_count_join

    b = datetime(2024, 6, 1)
    pdf = spark.createDataFrame(
        [(1, b), (2, None), (3, b + timedelta(minutes=30)), (4, None)],
        "pid long, ts timestamp",
    )
    idf = spark.createDataFrame(
        [(7, b, b + timedelta(hours=1))], ["iid", "lo", "hi"]
    )
    out = interval_count_join(
        pdf, idf, "ts", "lo", "hi", id_cols=["iid"]
    ).collect()
    assert out[0]["n_points"] == 2  # NULL-ts rows do not count
    idf_bad = idf.withColumnRenamed("iid", "_probe")
    with pytest.raises(ValueError, match="_probe"):
        interval_count_join(pdf, idf_bad, "ts", "lo", "hi")


def test_knn_join_tie_safe_with_duplicate_vectors(spark):
    """Preselection tie-safety: with far more than presel candidates
    sharing one exact cosine (exact-duplicate vectors), argpartition
    alone keeps an arbitrary subset; the boundary-widening must still
    select the LOWEST-id tied neighbors, matching the SQL oracle's
    (-sim, id) order."""
    from dbeam_spark.operators.similarity import knn_join

    # 40 identical vectors + 2 distinct: every query's candidate set
    # ties at sim=1.0 among the duplicates (presel = k+16 < 39 ties)
    rows = [(i, [1.0, 0.0, 0.0]) for i in range(40)]
    rows += [(100, [0.0, 1.0, 0.0]), (101, [0.6, 0.8, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_join(df, k=3, id_col="vec_id", vec_col="embedding")
    got = {
        r["query_id"]: [] for r in out.collect()
    }
    for r in out.orderBy("query_id", "rank").collect():
        got[r["query_id"]].append(r["neighbor_id"])
    # query 5's top-3 among 39 sim-1.0 ties must be the lowest ids != 5
    assert got[5] == [0, 1, 2]
    assert got[0] == [1, 2, 3]
    # the distinct vectors rank their true neighbors
    assert got[101][0] == 100 or got[101][0] == 0


def test_interval_overlap_join_semantics_and_plan(spark):
    from datetime import datetime

    from dbeam_spark.operators.joins import interval_overlap_join

    sess = spark.createDataFrame(
        [
            # zero-length session exactly at window start: counts (ov 0)
            (1, datetime(2024, 1, 1, 1, 0, 0), datetime(2024, 1, 1, 1, 0, 0)),
            # ends exactly at window start: counts with zero overlap
            (2, datetime(2024, 1, 1, 0, 30, 0), datetime(2024, 1, 1, 1, 0, 0)),
            # starts exactly at window END (exclusive): does NOT count
            (3, datetime(2024, 1, 1, 2, 0, 0), datetime(2024, 1, 1, 2, 30, 0)),
            # spans MANY buckets across the window: exactly one output row
            (4, datetime(2024, 1, 1, 0, 0, 0), datetime(2024, 1, 2, 0, 0, 0)),
        ],
        ["sid", "s_start", "s_end"],
    )
    wins = spark.createDataFrame(
        [(10, datetime(2024, 1, 1, 1, 0, 0), datetime(2024, 1, 1, 2, 0, 0))],
        ["wid", "w_start", "w_end"],
    )
    out = interval_overlap_join(
        sess, wins, "s_start", "s_end", "w_start", "w_end",
        bucket_seconds=900,
    )
    got = sorted((r.sid, r.wid) for r in out.collect())
    assert got == [(1, 10), (2, 10), (4, 10)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_overlap_join_matches_bruteforce_random(spark):
    import random
    from datetime import datetime, timedelta

    rng = random.Random(11)
    base = datetime(2024, 1, 1)

    def mk(n, max_len_s, seed_off):
        rows = []
        for i in range(n):
            lo = base + timedelta(
                seconds=rng.randint(0, 3 * 86400),
                microseconds=rng.randint(0, 999_999),
            )
            hi = lo + timedelta(seconds=rng.randint(0, max_len_s))
            rows.append((i + seed_off, lo, hi))
        return rows

    left = mk(150, 86400, 0)
    right = [(j, lo, hi + timedelta(seconds=1))
             for j, lo, hi in mk(40, 43200, 1000)]
    from dbeam_spark.operators.joins import interval_overlap_join

    out = interval_overlap_join(
        spark.createDataFrame(left, ["lid", "l_lo", "l_hi"]),
        spark.createDataFrame(right, ["rid", "r_lo", "r_hi"]),
        "l_lo", "l_hi", "r_lo", "r_hi", bucket_seconds=7200,
    )
    got = sorted((r.lid, r.rid) for r in out.collect())
    want = sorted(
        (lid, rid)
        for lid, llo, lhi in left
        for rid, rlo, rhi in right
        if llo < rhi and rlo <= lhi
    )
    assert got == want


def test_connected_components_matches_union_find_random(spark):
    import random

    rng = random.Random(7)
    edges = sorted(
        {tuple(sorted(rng.sample(range(60), 2))) for _ in range(70)}
    )
    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = {n for e in edges for n in e}
    want = {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}

    out = dedup.connected_components(
        spark.createDataFrame(edges, ["id_a", "id_b"])
    )
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    assert got == want


def test_multimodal_frame_sample(spark):
    docs = spark.createDataFrame(
        [(1, "a" * 1500), (2, "b" * 100)], ["doc_id", "text"]
    )
    payload = multimodal.with_payload(docs)

    def slices(**kw):
        by_doc = {}
        for r in multimodal.slices(payload, **kw).collect():
            by_doc.setdefault(r.doc_id, []).append((r.frame_idx, r.frame_len))
        return {d: sorted(v) for d, v in by_doc.items()}

    # doc1: 1500 bytes -> frames 0..5 (last len 220), sampled 0,2,4
    assert slices(size=256, hop=256, every=2) == {
        1: [(0, 256), (2, 256), (4, 256)],
        2: [(0, 100)],
    }
    # overlapping windows: one per 256-byte hop, tails clipped to the
    # bytes left
    assert slices(size=512, hop=256) == {
        1: [(0, 512), (1, 512), (2, 512), (3, 512), (4, 476), (5, 220)],
        2: [(0, 100)],
    }


def test_hot_key_salted_join_equals_plain(spark):
    from dbeam_spark.operators.joins import hot_key_salted_join

    # key 0 is pathologically hot (90% of rows)
    big = spark.range(0, 20000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0 ELSE id % 100 END AS k", "id AS payload"
    )
    small = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS attr")
    plain = {(r.k, r.payload, r.attr) for r in big.join(small, "k").collect()}
    salted = {
        (r.k, r.payload, r.attr)
        for r in hot_key_salted_join(big, small, "k", 0.05, 4, 0.2).collect()
    }
    assert salted == plain and len(plain) == 20000


def test_dataset_split_keeps_clusters_together(spark):
    from dbeam_spark.queries.llm import dataset_split

    out = dataset_split(spark, "/root/testdata/sf0.001").collect()
    by_rep = {}
    for r in out:
        by_rep.setdefault(r.rep_id, set()).add(r.split)
    # every near-dup cluster (and singleton) lands in exactly one split
    assert all(len(s) == 1 for s in by_rep.values())
    splits = {r.split for r in out}
    assert splits == {"train", "val", "test"}


def test_prepare_training_corpus_pipeline(spark):
    from dbeam_spark.operators.pipeline import prepare_training_corpus

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 8),
            (2, "THE  quick   brown fox jumps over the lazy dog " * 8),  # exact dup after norm
            (3, "the quick brown fox jumps over the lazy cat " * 8),  # near-dup of 1
            (4, "completely different text about spark engines " * 8),
            (5, "another unrelated document with its own words " * 8),
        ],
        ["doc_id", "text"],
    )
    all_chunks = None
    seen_docs = set()
    for split in ("train", "val", "test"):
        out = prepare_training_corpus(docs, 0.5, 100, 80, split).collect()
        for r in out:
            assert r.split == split and 0 < r.chunk_len <= 100
            seen_docs.add(r.doc_id)
        all_chunks = (all_chunks or 0) + len(out)
    # doc 2 deduped (exact), doc 3 absorbed into doc 1's cluster
    # (survivorship keeps one of the pair), so ≤ 3 docs survive
    assert 2 not in seen_docs
    assert not {1, 3} <= seen_docs
    assert seen_docs <= {1, 3, 4, 5} and all_chunks > 0


def test_kmeans_recovers_separated_clusters(spark):
    """Three well-separated blobs: Lloyd's must assign each blob to one
    cluster (purity 1) and converge before the iteration cap."""
    import random

    rng = random.Random(3)
    rows = []
    for cid, center in enumerate([0.0, 10.0, -10.0]):
        for i in range(30):
            vec = [center + rng.uniform(-0.5, 0.5) for _ in range(8)]
            rows.append((cid * 100 + i, vec))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    centroids, iters = similarity.kmeans_fit(df, k=3, max_iter=20)
    assert iters < 20  # converged by tolerance, not the cap
    got = similarity.kmeans_assign(df, centroids).collect()
    by_blob = {}
    for r in got:
        by_blob.setdefault(r.vid // 100, set()).add(r.cluster)
    # each blob maps to exactly one cluster, and clusters don't merge
    assert all(len(v) == 1 for v in by_blob.values())
    assert len({next(iter(v)) for v in by_blob.values()}) == 3


def test_asof_join_matches_pandas_merge_asof(spark):
    """Backward/forward/tolerance semantics vs pandas.merge_asof on
    random per-key event streams."""
    import numpy as np
    import pandas as pd

    from dbeam_spark.operators.joins import asof_join

    rng = np.random.default_rng(11)
    n_l, n_r = 300, 200
    lpdf = pd.DataFrame({
        "k": rng.integers(0, 5, n_l),
        "lts": pd.to_datetime(rng.integers(0, 10**6, n_l), unit="s"),
        "lval": np.arange(n_l),
    }).sort_values("lts").reset_index(drop=True)
    rpdf = pd.DataFrame({
        "k": rng.integers(0, 5, n_r),
        "rts": pd.to_datetime(rng.integers(0, 10**6, n_r), unit="s"),
        "rval": np.arange(n_r) * 10,
    }).sort_values("rts").reset_index(drop=True)
    ldf = spark.createDataFrame(lpdf)
    rdf = spark.createDataFrame(rpdf)

    for direction, tol in [("backward", None), ("forward", None),
                           ("backward", 5000)]:
        got = (
            asof_join(ldf, rdf, on="k", left_ts="lts", right_ts="rts",
                      direction=direction, tolerance_seconds=tol,
                      payload=["rval"])
            .orderBy("lval")
            .toPandas()
        )
        exp = pd.merge_asof(
            lpdf.sort_values("lts"), rpdf.sort_values("rts"),
            left_on="lts", right_on="rts", by="k",
            direction=direction,
            **({"tolerance": pd.Timedelta(seconds=tol)} if tol else {}),
        ).sort_values("lval").reset_index(drop=True)
        g = got[["lval", "rval"]].reset_index(drop=True)
        e = exp[["lval", "rval"]]
        pd.testing.assert_frame_equal(
            g.astype("float64"), e.astype("float64"), check_like=True
        ), (direction, tol)


def test_global_ranked_matches_window_row_number(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dbeam_spark.operators.ranking import global_ranked, ntile_from_rank

    df = spark.range(0, 997).select(
        F.col("id"),
        (F.hash(F.col("id")) % 1000).alias("v"),
    )
    order = [F.col("v").asc(), F.col("id").asc()]
    ranked, n = global_ranked(df, order, num_partitions=7)
    assert n == 997
    got = {
        r["id"]: r["_rank"] for r in ranked.select("id", "_rank").collect()
    }
    w = Window.orderBy(*order)
    want = {
        r["id"]: r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got == want

    # ntile arithmetic matches the window ntile for several bucket counts
    for k in (3, 4, 10):
        nt = {
            r["id"]: r["nt"]
            for r in ranked.select(
                "id", ntile_from_rank(F.col("_rank"), n, k).alias("nt")
            ).collect()
        }
        ref = {
            r["id"]: r["nt"]
            for r in df.withColumn("nt", F.ntile(k).over(w)).collect()
        }
        assert nt == ref, k


def test_global_ranked_tiny_and_empty(spark):
    from pyspark.sql import functions as F

    from dbeam_spark.operators.ranking import global_ranked, ntile_from_rank

    tiny = spark.createDataFrame([(3,), (1,)], "x long")
    ranked, n = global_ranked(tiny, [F.col("x").asc()], num_partitions=4)
    assert n == 2
    rows = {r["x"]: r["_rank"] for r in ranked.collect()}
    assert rows == {1: 1, 3: 2}
    # fewer rows than buckets: ntile gives bucket i to row i
    nt = {
        r["x"]: r["nt"]
        for r in ranked.select(
            "x", ntile_from_rank(F.col("_rank"), n, 4).alias("nt")
        ).collect()
    }
    assert nt == {1: 1, 3: 2}

    empty = tiny.filter("x > 100")
    ranked_e, n_e = global_ranked(empty, [F.col("x").asc()])
    assert n_e == 0 and ranked_e.count() == 0


def test_embedding_dedup_size_gate_falls_through_to_lsh(vectors):
    # above max_broadcast_rows the exact driver-collect path is
    # forbidden; the operator must route to the bucketed LSH path
    gated = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_dedup_pairs(
            vectors, 0.95, max_broadcast_rows=2
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in similarity.rh_lsh_embedding_pairs(vectors, 0.95).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_dedup_pairs(vectors, 0.95).collect()
    }
    assert gated == lsh
    assert gated <= exact  # LSH precision is 1.0 (exact verify)


def test_asof_join_duplicate_right_ts_ties(spark):
    """Equal right_ts rows: backward carries the LAST right row in
    input order, forward the FIRST — pandas.merge_asof semantics,
    independent of payload values."""
    import pandas as pd

    from dbeam_spark.operators.joins import asof_join

    lpdf = pd.DataFrame({
        "k": [1, 1],
        "lts": pd.to_datetime([100, 300], unit="s"),
        "lval": [0, 1],
    })
    # three right rows share ts=100; payload values DESCEND so a
    # payload-value max would pick the first row, not the last
    rpdf = pd.DataFrame({
        "k": [1, 1, 1, 1],
        "rts": pd.to_datetime([100, 100, 100, 300], unit="s"),
        "rval": [30, 20, 10, 5],
    })
    ldf = spark.createDataFrame(lpdf)
    rdf = spark.createDataFrame(rpdf)
    for direction in ("backward", "forward"):
        got = (
            asof_join(ldf, rdf, on="k", left_ts="lts", right_ts="rts",
                      direction=direction, payload=["rval"])
            .orderBy("lval")
            .toPandas()
        )
        exp = pd.merge_asof(
            lpdf, rpdf, left_on="lts", right_on="rts", by="k",
            direction=direction,
        )
        assert list(got["rval"]) == list(exp["rval"]), direction


def test_text_compress_ratio_matches_python_zlib(spark):
    import zlib

    from dbeam_spark.operators.text import zlib_compress_stats
    from dbeam_spark.queries.llm import text_compress_ratio

    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = zlib_compress_stats(docs_df).collect()
    docs = {r["doc_id"]: r["text"] for r in docs_df.collect()}
    assert len(rows) == len(docs)
    for r in rows[:50]:
        raw = docs[r["doc_id"]].encode("utf-8")
        assert r["raw_len"] == len(raw)
        assert r["comp_len"] == len(zlib.compress(raw, 6))
        assert r["ratio_x1e4"] == round(
            len(zlib.compress(raw, 6)) * 10000.0 / len(raw)
        )
    # the registered query's gate form: exact byte lengths + bounds flag
    q = text_compress_ratio(spark, "/root/testdata/sf0.001").collect()
    assert len(q) == len(docs)
    assert all(r["comp_within_bounds"] for r in q)


def test_pq_codebooks_deterministic_and_useful(spark):
    from dbeam_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    b1 = similarity.pq_train(emb, m=8, nbits=4, n_iter=5)
    b2 = similarity.pq_train(emb, m=8, nbits=4, n_iter=5)
    assert b1 == b2  # deterministic init + exact same reduction

    enc = similarity.pq_encode(emb, b1).collect()
    assert len(enc) == emb.count()
    assert all(len(r["codes"]) == 8 for r in enc)
    assert all(0 <= c < 16 for r in enc for c in r["codes"])

    # reconstruction must beat the untrained (seed-only) codebooks
    import numpy as np

    seeds = similarity.pq_train(emb, m=8, nbits=4, n_iter=0)
    err_trained = np.mean([r["recon_err"] for r in enc])
    enc0 = similarity.pq_encode(emb, seeds).collect()
    err_seed = np.mean([r["recon_err"] for r in enc0])
    assert err_trained <= err_seed


def test_knn_pq_recall_vs_bruteforce(spark):
    from pyspark.sql import functions as F

    from dbeam_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.knn_bruteforce(emb, q, k=5).collect()
    approx = similarity.knn_pq(emb, q, k=5, m=16, nbits=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = tot = 0
    for r in approx:
        tot += 1
        if r["neighbor_id"] in exact_sets.get(r["query_id"], set()):
            hits += 1
    # 4-bit×16 PQ on 64-dim near-random data: recall@5 well above
    # chance (≈ 5/n); assert a conservative floor
    assert tot > 0 and hits / tot >= 0.2, hits / tot


def test_bpe_train_learns_expected_merges(spark):
    from dbeam_spark.operators import tokenizer

    docs = spark.createDataFrame(
        [(0, "low low low lower lower newest newest newest newest")],
        "doc_id long, text string",
    )
    merges = tokenizer.bpe_train(docs, n_merges=6)
    assert merges, "no merges learned"
    # most frequent pair first: (w,e) appears in newest×4 + lower×2
    assert merges[0] == ("w", "e", 6)
    pairs = [(a, b) for a, b, _ in merges]
    assert ("l", "o") in pairs
    # deterministic across runs
    assert merges == tokenizer.bpe_train(docs, n_merges=6)

    # encoder: fully merged frequent word costs fewer tokens
    enc = tokenizer.bpe_encode_expr(tokenizer.bpe_train(docs, 200))
    out = docs.select("doc_id", "text").mapInPandas(
        enc, "doc_id long, n_bpe_tokens long"
    ).collect()
    # 9 words, every word fully collapsed to 1 token by 200 merges
    assert out[0]["n_bpe_tokens"] == 9


def test_quality_classifier_learns_teacher_signal(spark):
    from dbeam_spark.operators import quality_model

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rep = quality_model.train_quality_classifier(docs).collect()[0]
    assert rep["n_train"] + rep["n_test"] == docs.count()
    # features ~generate the teacher signal -> held-out AUC far above chance
    assert rep["auc"] >= 0.8, rep
    assert 0.0 <= rep["accuracy"] <= 1.0


def test_incremental_minhash_index(spark, tmp_path):
    """Incremental dedup vs a persisted signature index: batch 2's
    near-dup of a batch-1 doc is found WITHOUT re-reading batch 1's
    text; the index grows append-only; batch-local pairs also found."""
    from dbeam_spark.operators.dedup import incremental_minhash_index

    base = (
        "spark shuffle partition broadcast join hash aggregate scan "
        "filter window sort merge exchange codegen arrow batch column"
    )
    idx = str(tmp_path / "sig_index")
    b1 = spark.createDataFrame(
        [(1, base), (2, "totally different words about cooking pasta "
                        "tomato basil olive oil garlic salt pepper pan")],
        "doc_id long, text string",
    )
    out1 = incremental_minhash_index(b1, idx, 0.5).collect()
    assert out1 == []  # no dups within batch 1

    # batch 2: near-dup of doc 1 (one word changed) + a fresh doc
    b2 = spark.createDataFrame(
        [(10, base.replace("codegen", "tungsten")),
         (11, "unrelated text entirely about astronomy telescope star "
              "galaxy nebula orbit planet comet meteor dust")],
        "doc_id long, text string",
    )
    out2 = incremental_minhash_index(b2, idx, 0.5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out2}
    assert (1, 10) in pairs
    hit = [r for r in out2 if (r["id_a"], r["id_b"]) == (1, 10)][0]
    assert hit["est_jaccard_x1e4"] >= 5000
    assert (not hit["a_is_new"]) and hit["b_is_new"]

    # index now holds all 4 signatures (append-only)
    assert spark.read.parquet(idx).count() == 4

    # RETRY of the same batch (crash-and-rerun): overwrites its own
    # batch subdirectory instead of appending — index unchanged, same
    # pairs, no self-pairs against the crashed write
    out2b = incremental_minhash_index(b2, idx, 0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in out2b} == pairs
    assert spark.read.parquet(idx).count() == 4
    assert all(r["id_a"] != r["id_b"] for r in out2b)

    # batch 3: exact copy of doc 11 -> estimator ~1.0 against the index
    b3 = spark.createDataFrame(
        [(20, "unrelated text entirely about astronomy telescope star "
              "galaxy nebula orbit planet comet meteor dust")],
        "doc_id long, text string",
    )
    out3 = incremental_minhash_index(b3, idx, 0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in out3} == {(11, 20)}
    assert out3[0]["est_jaccard_x1e4"] == 10000


def test_bloom_semi_join_exact_and_pruning(spark):
    from dbeam_spark.operators.joins import bloom_semi_join

    left = spark.range(0, 5000).withColumnRenamed("id", "k")
    right = spark.createDataFrame(
        [(i,) for i in range(0, 5000, 100)], ["k"]
    )  # 50 keys
    out = bloom_semi_join(left, right, on="k")
    got = sorted(r["k"] for r in out.collect())
    assert got == list(range(0, 5000, 100))  # exactly the semi-join

    # the bloom pre-filter must prune (almost) everything that can't
    # match: rebuild the pruned frame alone and count survivors
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_semi_join_no_false_negatives_tiny_filter(spark):
    from dbeam_spark.operators.joins import bloom_semi_join

    # deliberately tiny bitmap -> high false-positive rate; result must
    # STILL equal the exact semi-join (verify join removes them)
    left = spark.range(0, 2000).withColumnRenamed("id", "k")
    right = spark.createDataFrame([(7,), (999,), (1500,)], ["k"])
    out = bloom_semi_join(left, right, on="k", num_bits=64, num_hashes=2)
    assert sorted(r["k"] for r in out.collect()) == [7, 999, 1500]


def test_global_prefix_max_matches_cummax(spark):
    import random

    from dbeam_spark.operators.ranking import global_prefix_max

    rng = random.Random(13)
    rows = [(i, rng.randint(-50, 50)) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["key", "val"])
    out = global_prefix_max(
        df, [F.col("key")], F.col("val"), "pmax", num_partitions=7
    ).collect()
    got = {r["key"]: r["pmax"] for r in out}
    expect = {}
    best = None
    for k, v in sorted(rows):
        expect[k] = best
        if best is None or v > best:
            best = v
    assert got == expect


def test_global_prefix_max_empty(spark):
    from dbeam_spark.operators.ranking import global_prefix_max

    df = spark.createDataFrame([], "key long, val long")
    assert global_prefix_max(df, [F.col("key")], F.col("val")).count() == 0


def test_skyline_sweep_matches_bruteforce(spark):
    """part_skyline's sweep (per-price max + global prefix-max) must
    equal the O(n²) dominance definition on random micro-data,
    including duplicate (price, size) points."""
    import random

    from dbeam_spark.operators.ranking import global_prefix_max

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        rows = [
            (i, rng.randint(0, 30), rng.randint(1, 15)) for i in range(200)
        ]
        df = spark.createDataFrame(rows, ["pid", "cents", "size"])
        m = df.groupBy("cents").agg(F.max("size").alias("msize"))
        s = global_prefix_max(m, [F.col("cents")], F.col("msize"), "prevmax")
        pairs = {
            (r["cents"], r["msize"])
            for r in s.filter(
                F.col("prevmax").isNull()
                | (F.col("msize") > F.col("prevmax"))
            ).collect()
        }
        got = {pid for pid, c, z in rows if (c, z) in pairs}

        def dominates(b, a):
            return (
                b[1] <= a[1]
                and b[2] >= a[2]
                and (b[1] < a[1] or b[2] > a[2])
            )

        expect = {
            a[0]
            for a in rows
            if not any(dominates(b, a) for b in rows)
        }
        assert got == expect, seed


def test_bloom_semi_join_empty_right_and_null_keys(spark):
    from pyspark.sql import types as T

    from dbeam_spark.operators.joins import bloom_semi_join

    left = spark.createDataFrame(
        [(1,), (2,), (None,)], T.StructType([T.StructField("k", T.LongType())])
    )
    empty_right = spark.createDataFrame(
        [], T.StructType([T.StructField("k", T.LongType())])
    )
    # empty build side -> all-zero bitmap -> everything pruned
    assert bloom_semi_join(left, empty_right, on="k").count() == 0
    # NULL keys never match a semi join, bloom or not
    right = spark.createDataFrame(
        [(2,)], T.StructType([T.StructField("k", T.LongType())])
    )
    got = [r["k"] for r in bloom_semi_join(left, right, on="k").collect()]
    assert got == [2]


def test_global_prefix_max_constant_and_single(spark):
    from dbeam_spark.operators.ranking import global_prefix_max

    one = spark.createDataFrame([(5, 9)], ["key", "val"])
    assert global_prefix_max(one, [F.col("key")], F.col("val"), "p").collect()[
        0
    ]["p"] is None
    const = spark.createDataFrame([(i, 7) for i in range(50)], ["key", "val"])
    rows = global_prefix_max(
        const, [F.col("key")], F.col("val"), "p", num_partitions=5
    ).collect()
    by_key = {r["key"]: r["p"] for r in rows}
    assert by_key[0] is None
    assert all(by_key[k] == 7 for k in range(1, 50))


def test_dedup_exact_substring_finds_planted_spans(spark, tmp_path):
    """Lee et al. exact-substring dedup: a planted 60-token verbatim
    block shared by two docs is reported with exact span geometry;
    docs without ≥K-token shared runs are absent."""
    import shutil

    from dbeam_spark.queries.llm import EXACT_SUBSTR_K, dedup_exact_substring

    K = EXACT_SUBSTR_K
    block = " ".join(f"tok{i}" for i in range(60))  # the planted span
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    uniq_c = " ".join(f"c{i}" for i in range(80))
    docs = spark.createDataFrame(
        [
            (1, f"{uniq_a} {block}", "en", "s", 0),
            (2, f"{block} {uniq_b}", "en", "s", 0),
            (3, uniq_c, "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf)
    docs.write.parquet(os.path.join(sf, "documents.parquet"))
    out = {r["doc_id"]: r for r in dedup_exact_substring(spark, sf).collect()}
    assert set(out) == {1, 2}
    # doc 1: block occupies positions 11..70 -> one 60-token span
    assert out[1]["n_spans"] == 1 and out[1]["max_span_tokens"] == 60
    assert out[1]["covered_tokens"] == 60
    # doc 2: block at position 1..60 -> same geometry
    assert out[2]["n_spans"] == 1 and out[2]["max_span_tokens"] == 60
    assert out[2]["covered_tokens"] == 60
    assert out[1]["n_tokens"] == 70 and out[2]["n_tokens"] == 70


def test_bpe_distributed_equals_driver_loop(spark):
    """The distributed merge loop must learn EXACTLY the driver
    loop's merges (same pairs, same counts, same order) — the
    two-tier dispatch in bpe_train is only sound if the tiers
    agree bit-for-bit."""
    from dbeam_spark.operators import tokenizer

    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low"),
            (2, "new newer newest new lower"),
            (3, "it's low-key, ain't it low"),  # punctuation survives
        ],
        ["doc_id", "text"],
    )
    driver = tokenizer.bpe_train(docs, n_merges=12)
    dist = tokenizer.bpe_train_distributed(docs, n_merges=12)
    assert dist == driver
    # the dispatch path: a tiny max_types forces the distributed loop
    via_dispatch = tokenizer.bpe_train(docs, n_merges=12, max_types=2)
    assert via_dispatch == driver


def test_dedup_span_repair_cut_ledger(spark, tmp_path):
    """Keep-min repair: the doc that owns a duplicated block (lowest
    doc_id) keeps it; every other holder reports the cut. Geometry is
    exact: a 60-token block inside a 70-token doc cuts 60, keeps 10."""
    import os

    from dbeam_spark.queries.llm import dedup_span_repair

    block = " ".join(f"tok{i}" for i in range(60))
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"{uniq_a} {block}", "en", "s", 0),
            (2, f"{block} {uniq_b}", "en", "s", 0),
            (3, " ".join(f"c{i}" for i in range(40)), "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    docs.write.parquet(os.path.join(sf, "documents.parquet"))
    out = {r["doc_id"]: r for r in dedup_span_repair(spark, sf).collect()}
    # doc 1 owns every shared gram (min doc_id) -> nothing to cut;
    # only doc 2 appears in the ledger
    assert set(out) == {2}
    assert out[2]["n_tokens"] == 70
    assert out[2]["tokens_cut"] == 60
    assert out[2]["tokens_kept"] == 10


def test_dedup_exact_substring_matches_bruteforce_reference(spark, tmp_path):
    """Randomized cross-check: a 3-token alphabet forces dense K-gram
    collisions, and the query's span geometry must equal a brute-force
    python reference on every doc (seeded → reproducible)."""
    import os
    import random

    from dbeam_spark.queries.llm import EXACT_SUBSTR_K, dedup_exact_substring

    K = EXACT_SUBSTR_K
    rng = random.Random(20260814)
    vocab = ["aa", "bb", "cc"]
    docs = []
    for d in range(1, 31):
        n = rng.randint(K, K * 3)
        docs.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
    # brute-force reference
    toks = {d: t.split(" ") for d, t in docs}
    gram_docs: dict[tuple, set] = {}
    for d, t in toks.items():
        for i in range(len(t) - K + 1):
            gram_docs.setdefault(tuple(t[i: i + K]), set()).add(d)
    expected = {}
    for d, t in toks.items():
        marked = [
            i + 1
            for i in range(len(t) - K + 1)
            if len(gram_docs[tuple(t[i: i + K])]) > 1
        ]
        if not marked:
            continue
        spans, cov = [], []
        s = p = marked[0]
        cs = cp = marked[0]
        for x in marked[1:]:
            if x == p + 1:
                p = x
            else:
                spans.append(p - s + K)
                s = p = x
            if x - cp <= K - 1:
                cp = x
            else:
                cov.append(cp - cs + K)
                cs = cp = x
        spans.append(p - s + K)
        cov.append(cp - cs + K)
        expected[d] = (len(t), len(spans), max(spans), sum(cov))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [(d, t, "en", "s", 0) for d, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(sf, "documents.parquet"))
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_spans"],
            r["max_span_tokens"],
            r["covered_tokens"],
        )
        for r in dedup_exact_substring(spark, sf).collect()
    }
    assert got == expected


def test_corpus_build_job(spark, tmp_path):
    """jobs/corpus_build: the CLI-shaped corpus materialization lands
    shard-partitioned chunks with split/shard routing, a funnel
    metrics file, and an atomic _SUCCESS — and the dedup funnel
    numbers are internally consistent."""
    import json as _json

    from dbeam_spark.jobs.corpus_build import run_corpus_build

    out = tmp_path / "corpus"
    m = run_corpus_build(
        spark,
        "/root/testdata/sf0.001/documents.parquet",
        str(out),
        n_shards=4,
    )
    assert (out / "_SUCCESS").exists()
    splits = _json.loads((out / "_SPLITS.json").read_text())
    assert set(splits) <= {"train", "val", "test"} and "train" in splits
    assert m["rawDocs"] == 500
    assert 0 < m["survivorDocs"] <= m["rawDocs"]
    assert m["dedupRemoved"] == m["rawDocs"] - m["survivorDocs"]
    assert m["totalChunks"] == sum(v["chunks"] for v in splits.values())
    landed = spark.read.parquet(str(out / "shards"))
    assert landed.select("shard").distinct().count() <= 4
    assert set(landed.columns) >= {
        "doc_id", "chunk_idx", "chunk_len", "chunk_hash", "split", "shard"
    }
    # deterministic: a rebuild lands the identical corpus
    out2 = tmp_path / "corpus2"
    run_corpus_build(
        spark,
        "/root/testdata/sf0.001/documents.parquet",
        str(out2),
        n_shards=4,
    )
    a = sorted(map(tuple, landed.drop("shard").collect()))
    b = sorted(
        map(
            tuple,
            spark.read.parquet(str(out2 / "shards")).drop("shard").collect(),
        )
    )
    assert a == b


def test_ivf_index_build_and_serve(spark, tmp_path):
    """Persisted IVF index: build-once/serve-many equals the in-memory
    IVF exactly (same centroid rule, same scoring), and the probed
    read prunes to nprobe cell directories."""
    import os

    from pyspark.sql import functions as F

    from dbeam_spark.operators.similarity import (
        build_ivf_index,
        knn_ivf,
        query_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    meta = build_ivf_index(emb, idx, n_cells=8)
    assert meta["n_cells"] == 8 and os.path.exists(idx + "/_SUCCESS")
    assert len(os.listdir(idx + "/cells")) >= 8  # cell=NNN dirs
    q = emb.filter(F.col("vec_id") < 10)
    served = query_ivf_index(spark, idx, q, k=5, n_probe=3).collect()
    fresh = knn_ivf(emb, q, k=5, n_cells=8, n_probe=3).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, fresh))
    # pruned read: the scan only lists the probed cell partitions
    assert len(served) == 10 * 5


def test_global_cumsum_matches_single_window(spark):
    import random

    from pyspark.sql import functions as F

    from dbeam_spark.operators.ranking import global_cumsum

    rng = random.Random(3)
    rows = [
        (i, rng.randint(0, 1000), rng.randint(-5, 5), rng.randint(0, 9))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["k", "v", "a", "b"])
    out = global_cumsum(
        df, [F.col("v").asc(), F.col("k").asc()], ["a", "b"],
        num_partitions=7,
    ).collect()
    got = {r["k"]: (r["_cum_a"], r["_cum_b"]) for r in out}
    acc_a = acc_b = 0
    for k, v, a, b in sorted(rows, key=lambda r: (r[1], r[0])):
        acc_a += a
        acc_b += b
        assert got[k] == (acc_a, acc_b), k


def test_global_cumsum_empty(spark):
    from pyspark.sql import functions as F

    from dbeam_spark.operators.ranking import global_cumsum

    df = spark.createDataFrame([], "k long, a long")
    assert global_cumsum(df, [F.col("k").asc()], ["a"]).count() == 0


def test_knn_int8_matches_float_ranking(vectors):
    # planted geometry: int8 quantization cannot flip the (well
    # separated) nearest neighbor of vector 0
    out = similarity.knn_int8(
        vectors, vectors.filter(F.col("vec_id") == 0), k=2
    ).collect()
    assert [r["neighbor_id"] for r in out][0] == 1
    # shared-scale codes bound the integer dot by d·127²
    assert all(abs(r["dot_q"]) <= 4 * 127 * 127 for r in out)


def test_knn_int8_recall_floor(spark):
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.knn_bruteforce(emb, q, k=5).collect()
    quant = similarity.knn_int8(emb, q, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    per_q = {}
    hits = tot = 0
    for r in quant:
        tot += 1
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
        if r["neighbor_id"] in exact_sets.get(r["query_id"], set()):
            hits += 1
    # every query returns exactly k rows; int8 on 64-dim vectors
    # loses little ranking fidelity (measured 0.98 at sf0.01)
    assert set(per_q.values()) == {5}
    assert hits / tot >= 0.7, hits / tot


def test_ivf_index_append_and_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    from dbeam_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        query_ivf_index,
        _index_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    newb = emb.filter(F.col("vec_id") % 5 == 0)
    idx = str(tmp_path / "ivf_m")
    build_ivf_index(base, idx, n_cells=8)
    rep = append_ivf_index(spark, idx, newb, "b1")
    assert rep["n_appended"] == newb.count()
    total = emb.count()
    assert _index_cells(spark, idx).count() == total
    # idempotent retry: same batch id, no growth
    append_ivf_index(spark, idx, newb, "b1")
    assert _index_cells(spark, idx).count() == total
    q = emb.filter(F.col("vec_id") < 5)
    before = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in query_ivf_index(spark, idx, q, k=3, n_probe=3).collect()
    )
    # appended vectors are servable (some neighbor from the delta)
    assert any(nid % 5 == 0 for (_, _, nid, _) in before)
    compact_ivf_index(spark, idx)
    assert not (tmp_path / "ivf_m" / "deltas").exists()
    after = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in query_ivf_index(spark, idx, q, k=3, n_probe=3).collect()
    )
    assert before == after
    assert _index_cells(spark, idx).count() == total


def test_knn_graph_maintain_equals_rebuild(spark):
    """Incremental graph maintenance must equal the from-scratch
    self-join for an arbitrary old/new split (here % 3)."""
    from pyspark.sql import Window, functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 == 0)
    g_old = similarity.knn_join(old, k=3)
    cand = similarity.knn_batch_candidates(old, new, k=3)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), "neighbor_id"
    )
    upd_old = (
        g_old.select("query_id", "neighbor_id", "sim")
        .unionByName(cand)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )
    new_edges = similarity.knn_bruteforce(emb, new, k=3).select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("int")
    )
    maintained = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in upd_old.select(
            "query_id", "neighbor_id", "sim", "rank"
        ).unionByName(new_edges).collect()
    )
    rebuilt = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in similarity.knn_join(emb, k=3).collect()
    )
    assert maintained == rebuilt


def test_knn_graph_artifact_build_once(spark, tmp_path):
    """knn_graph_artifact builds on first call, serves the SAME
    directory untouched on a repeat call (content-keyed cache hit),
    and rebuilds under a DIFFERENT key when the content changes."""
    import os

    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    root = str(tmp_path / "graph_cache")
    p1 = similarity.knn_graph_artifact(emb, k=3, cache_root=root)
    assert os.path.isfile(os.path.join(p1, "_SUCCESS"))
    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    # cache hit: same path, artifact not rewritten
    p2 = similarity.knn_graph_artifact(emb, k=3, cache_root=root)
    assert p2 == p1
    assert os.path.getmtime(os.path.join(p1, "_SUCCESS")) == mtime
    # the persisted edges ARE the exact self-join, edge for edge
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in spark.read.parquet(p1).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in similarity.knn_join(emb, k=3).collect()
    )
    assert got == want
    # different content (subset) -> different key, no stale serve
    sub = emb.filter(F.col("vec_id") % 2 == 0)
    p3 = similarity.knn_graph_artifact(sub, k=3, cache_root=root)
    assert p3 != p1
    # different k -> different key too
    p4 = similarity.knn_graph_artifact(emb, k=2, cache_root=root)
    assert p4 not in (p1, p3)


def test_round_half_up_matches_spark_round(spark):
    """round_half_up must equal Spark's ROUND(double, n) bit for bit —
    it is used to emit final values from bounded driver-side verify
    steps without an extra Spark job. Covers shortest-repr ties
    (0.00005-style), values near rounding boundaries, and negatives."""
    import random

    from pyspark.sql import functions as F

    from dbeam_spark.operators.util import round_half_up

    rng = random.Random(20260815)
    vals = [rng.random() for _ in range(400)]
    vals += [rng.uniform(-1000, 1000) for _ in range(200)]
    vals += [0.00005, 0.12345, 0.99995, 2.675, -2.675, 0.1 + 0.2]
    for scale in (2, 4, 6):
        df = spark.createDataFrame(
            [(v,) for v in vals], "x double"
        ).select(F.round("x", scale).alias("r"))
        got = [r["r"] for r in df.collect()]
        want = [round_half_up(v, scale) for v in vals]
        assert got == want


def test_ngram_jaccard_prefix_filter_exact(spark):
    """The prefix-filtered ngram_jaccard_pairs must equal the naive
    full shingle self-join on a corpus with planted near-dups AND
    heavy boilerplate (one shingle shared by every doc — the k² join
    blowup the prefix filter exists to kill)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    boiler = "the quick brown"  # shared 3-shingle in every doc
    rows = []
    for i in range(60):
        body = " ".join(rng.choices(vocab, k=30))
        rows.append((i, f"{boiler} {body}"))
    # planted near-dups: copy with one word changed
    for i in range(60, 72):
        src = rows[i - 60][1].split()
        src[10] = "CHANGED"
        rows.append((i, " ".join(src)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for thr in (0.5, 0.8, 0.9):
        got = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.ngram_jaccard_pairs(docs, thr).collect()
        )
        # naive exact twin, computed inline
        sh = dedup.shingle_table(docs, "doc_id", "text", 3)
        sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("sz"))
        a = sh.select(F.col("sid").alias("id_a"), "shingle")
        b = sh.select(
            F.col("sid").alias("id_b"), F.col("shingle").alias("sh_b")
        )
        inter = (
            a.join(
                b,
                (F.col("shingle") == F.col("sh_b"))
                & (F.col("id_a") < F.col("id_b")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        want = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup._jaccard_from_inter(
                inter, sizes, thr
            ).collect()
        )
        assert got == want, f"thr={thr}"
        if thr <= 0.8:  # planted pairs have J≈0.82 (28 of 34 shingles)
            assert len(got) >= 12


def test_containment_prefix_filter_exact(spark):
    """The one-sided prefix-filtered containment_pairs must equal the
    naive full shingle equi-join on a corpus with boilerplate flood
    AND planted SUBSET duplicates (a short doc embedded whole in a
    longer one — containment 1.0 at low Jaccard, the case the
    min-side-only prefix schedule exists for: the larger doc cannot
    prune, sizes differ several-fold)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(300)]
    boiler = "the quick brown"  # shared 3-shingle in every doc
    rows = []
    for i in range(50):
        body = " ".join(rng.choices(vocab, k=40))
        rows.append((i, f"{boiler} {body}"))
    # planted subset dups: a 12-token contiguous slice of a long doc
    # (containment of the slice ~1.0, Jaccard ~0.25)
    for i in range(50, 62):
        src = rows[i - 50][1].split()
        rows.append((i, " ".join(src[8:20])))
    # planted near-threshold pairs: copy with one word changed
    for i in range(62, 70):
        src = rows[i - 62][1].split()
        src[10] = "CHANGED"
        rows.append((i, " ".join(src)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for thr in (0.5, 0.8, 0.9):
        got = sorted(
            (r["id_a"], r["id_b"], r["containment_x1e4"])
            for r in dedup.containment_pairs(docs, thr).collect()
        )
        # naive exact twin (the pre-r9 query shape), computed inline
        sh = dedup.shingle_table(docs, "doc_id", "text", 3)
        sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("sz"))
        a = sh.select(F.col("sid").alias("id_a"), "shingle")
        b = sh.select(
            F.col("sid").alias("id_b"), F.col("shingle").alias("sh_b")
        )
        inter = (
            a.join(
                b,
                (F.col("shingle") == F.col("sh_b"))
                & (F.col("id_a") < F.col("id_b")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("i"))
        )
        sa = sizes.select(
            F.col("sid").alias("id_a"), F.col("sz").alias("sza")
        )
        sb = sizes.select(
            F.col("sid").alias("id_b"), F.col("sz").alias("szb")
        )
        want = sorted(
            (r["id_a"], r["id_b"], r["containment_x1e4"])
            for r in inter.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.expr("i * 10000 DIV LEAST(sza, szb)")
                .cast("long")
                .alias("containment_x1e4"),
            )
            .filter(F.col("containment_x1e4") >= int(thr * 10000))
            .collect()
        )
        assert got == want, f"thr={thr}"
        # the planted subset dups must survive every threshold
        planted = {(i - 50, i) for i in range(50, 62)}
        assert planted <= {(x, y) for x, y, _ in got}, f"thr={thr}"


def test_containment_threshold_is_not_truncated(spark):
    """A pair with 110 shared shingles and min(|A|, |B|) = 193 scores
    110·10⁴ DIV 193 = 5699 (containment 0.56995): it passes 0.5699
    but not 0.57, although 0.57 * 10000 is 5699.999… in floating
    point. Filler docs repeat each side's unshared tail, so the shared
    shingles are the rarest and the pair is a candidate at 0.57."""
    a = [f"a{i}" for i in range(195)]  # 193 shingles
    b = a[:112] + [f"b{i}" for i in range(83)]  # 193, 110 shared with a
    rows = [(1, " ".join(a)), (2, " ".join(b))]
    rows += [(10 + k, " ".join(a[110:])) for k in range(2)]
    rows += [(20 + k, " ".join(b[110:])) for k in range(2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def scores(thr):
        return {
            (r["id_a"], r["id_b"]): r["containment_x1e4"]
            for r in dedup.containment_pairs(docs, thr).collect()
        }

    assert scores(0.5699)[(1, 2)] == 5699
    at_057 = scores(0.57)
    assert (1, 2) not in at_057
    assert at_057[(1, 10)] == 10000  # the filler pairs still pass


def test_verified_jaccard_broadcast_gate_both_sides(spark, monkeypatch):
    """The candidate-broadcast size gate must produce identical
    verified pairs on both sides: hints on (candidates under the cap)
    and hints dropped (cap forced to 0, AQE shuffle joins). Guards the
    un-gated-broadcast failure mode: a boilerplate-heavy corpus whose
    candidate set outgrows the driver broadcast budget."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(40):
        rows.append((i, " ".join(rng.choices(vocab, k=25))))
    for i in range(40, 52):  # planted near-dups
        src = rows[i - 40][1].split()
        src[7] = "CHANGED"
        rows.append((i, " ".join(src)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    broadcast_side = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, 0.6).collect()
    )
    assert len(broadcast_side) >= 12
    monkeypatch.setattr(dedup, "_BROADCAST_CAND_MAX", 0)
    shuffle_side = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, 0.6).collect()
    )
    assert shuffle_side == broadcast_side


def test_ngram_jaccard_long_decimal_threshold(spark):
    """A threshold with an unbounded decimal repr (float 1/3) must
    neither overflow the generated integer-prefix arithmetic under
    ANSI mode (Fraction('0.333...') has a ~3.3e15 numerator) nor lose
    pairs: the bounded fraction is rounded DOWN, so prefixes only
    lengthen and the exact verify keeps the answer identical to the
    naive twin."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(21)
    vocab = [f"w{i}" for i in range(120)]
    rows = []
    for i in range(25):
        rows.append((i, " ".join(rng.choices(vocab, k=25))))
    for i in range(25, 33):  # near-dups at J well above and below 1/3
        src = rows[i - 25][1].split()
        for j in range(0, (i % 3) * 6, 2):
            src[j] = f"CH{j}"
        rows.append((i, " ".join(src)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    thr = 1 / 3  # repr '0.3333333333333333'
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, thr).collect()
    )
    sh = dedup.shingle_table(docs, "doc_id", "text", 3)
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("sid").alias("id_a"), "shingle")
    b = sh.select(F.col("sid").alias("id_b"), F.col("shingle").alias("sh_b"))
    inter = (
        a.join(
            b,
            (F.col("shingle") == F.col("sh_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    want = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup._jaccard_from_inter(inter, sizes, thr).collect()
    )
    assert got == want
    assert len(got) >= 8  # the planted near-dups all clear 1/3


def test_ngram_jaccard_prefix_bounds_boilerplate_expansion(spark):
    """A shingle shared by k docs with otherwise-unique text must NOT
    appear in candidate prefixes (it is every doc's most frequent
    shingle, so it sorts last): candidate volume stays ~0, where the
    naive join would materialize k·(k-1)/2 rows for that shingle."""
    from fractions import Fraction

    from pyspark.sql import Window, functions as F

    rows = [
        (i, "shared boiler plate " + " ".join(f"u{i}_{j}" for j in range(20)))
        for i in range(50)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    thr = 0.8
    frac = Fraction(str(thr))
    num, den = frac.numerator, frac.denominator
    sh = dedup.shingle_table(docs, "doc_id", "text", 3)
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("sid").orderBy("df", "shingle")
    pref = (
        sh.join(dfreq, "shingle")
        .withColumn("r", F.row_number().over(w))
        .join(sizes, "sid")
        .filter(
            F.col("r")
            <= F.col("sz")
            - F.expr(f"(sz * {num} + {den} - 1) DIV {den}")
            + F.lit(1)
        )
    )
    # the two boilerplate shingles (df=50) never enter any prefix
    hot = pref.filter(F.col("df") >= 50).count()
    assert hot == 0
    # and the final answer is empty (no true near-dups)
    assert dedup.ngram_jaccard_pairs(docs, thr).count() == 0


def test_bmp_codec_roundtrip():
    """encode_bmp -> decode_bmp is identity on pixels and geometry for
    arbitrary sizes incl. stride-padding widths (w*3 % 4 != 0)."""
    import random

    from dbeam_spark.operators.multimodal import (
        bmp_row_stride,
        decode_bmp,
        encode_bmp,
    )

    rng = random.Random(99)
    for w, h in [(1, 1), (2, 3), (5, 4), (7, 7), (16, 9), (33, 2)]:
        pixels = bytes(rng.randrange(256) for _ in range(w * h * 3))
        payload = encode_bmp(pixels, w, h)
        assert payload[:2] == b"BM"
        assert len(payload) == 54 + bmp_row_stride(w) * h
        dw, dh, bpp, dpix = decode_bmp(payload)
        assert (dw, dh, bpp) == (w, h, 24)
        assert dpix == pixels
    # malformed inputs are rejected, not mis-decoded
    import pytest as _pt

    with _pt.raises(ValueError):
        decode_bmp(b"notabmp" + bytes(60))
    good = encode_bmp(bytes(12 * 3), 4, 3)
    with _pt.raises(ValueError):
        decode_bmp(good[:30])  # truncated pixel data


def test_png_codec_roundtrip():
    """encode_png -> decode_png is identity on pixels/geometry across
    sizes; the default filter schedule (r % 5) covers ALL five PNG
    filter types so every round-trip exercises the sequential
    Sub/Average/Paeth reconstruction; each explicit single-filter
    encoding round-trips too."""
    import random

    import pytest as _pt

    from dbeam_spark.operators.multimodal import decode_png, encode_png

    rng = random.Random(13)
    for w, h in [(1, 1), (3, 2), (8, 5), (13, 9), (31, 23)]:
        pixels = bytes(rng.randrange(256) for _ in range(w * h * 3))
        payload = encode_png(pixels, w, h)
        dw, dh, depth, dpix, filters = decode_png(payload)
        assert (dw, dh, depth) == (w, h, 8)
        assert dpix == pixels
        assert filters == [r % 5 for r in range(h)]
    # each filter type alone round-trips (isolates the reconstruction)
    pixels = bytes(rng.randrange(256) for _ in range(6 * 4 * 3))
    for ft in range(5):
        payload = encode_png(pixels, 6, 4, filters=[ft] * 4)
        _, _, _, dpix, filters = decode_png(payload)
        assert dpix == pixels and filters == [ft] * 4, f"filter {ft}"
    # corruption is rejected by chunk CRC, truncation by length checks
    good = encode_png(pixels, 6, 4)
    bad = bytearray(good)
    bad[len(good) // 2] ^= 0xFF
    with _pt.raises(ValueError):
        decode_png(bytes(bad))
    with _pt.raises(ValueError):
        decode_png(good[: len(good) - 8])  # IEND gone
    with _pt.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\njunk")


def test_jpeg_structural_screen():
    """screen_jpeg (the sampled-decode posture's cheap tier) reports
    the same structural facts the full decoder walks — geometry,
    segment/table counts — plus a scan byte range that really brackets
    the entropy data, WITHOUT entropy decode; and it flags corrupt
    containers instead of raising."""
    import numpy as np

    from dbeam_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        screen_jpeg,
    )

    rng = np.random.RandomState(31)
    for w, h in [(1, 1), (7, 5), (31, 23)]:
        pixels = rng.randint(0, 256, w * h * 3, dtype=np.uint8).tobytes()
        payload = encode_jpeg(pixels, w, h)
        rep = screen_jpeg(payload)
        assert rep["valid"]
        assert (rep["width"], rep["height"]) == (w, h)
        assert rep["n_segments"] == 11
        assert (rep["n_dqt"], rep["n_dht"]) == (2, 4)
        # the reported scan range really is the entropy data: the
        # full decoder walks to the same offsets
        assert 0 < rep["scan_start"] <= rep["scan_end"]
        assert payload[rep["scan_end"]:rep["scan_end"] + 2] == b"\xff\xd9"
        # decoding the container the screen blessed must succeed
        dw, dh, _, _, _ = decode_jpeg(payload)
        assert (dw, dh) == (w, h)
    # corrupt containers: flagged, never raised
    assert not screen_jpeg(b"\x00\x01rubbish")["valid"]
    assert not screen_jpeg(b"\xff\xd8\xff\xe0\x00\x03")["valid"]
    # truncated scan (no EOI): invalid
    good = encode_jpeg(bytes(8 * 8 * 3), 8, 8)
    assert not screen_jpeg(good[:-2])["valid"]


def test_jpeg_codec_roundtrip():
    """encode_jpeg -> decode_jpeg: geometry/segment/block structure
    exact; pixels within the provable all-ones-quant bound (measured
    max 2, asserted <= 8 wide-margin). Covers partial edge blocks,
    multi-MCU grids, the Annex-K lossy tables (structural), and the
    declared rejection bounds."""
    import numpy as np
    import pytest as _pt

    from dbeam_spark.operators.multimodal import (
        JPEG_QUANT_CHROM,
        JPEG_QUANT_LUM,
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(29)
    for w, h in [(1, 1), (8, 8), (7, 5), (16, 9), (31, 23)]:
        pixels = rng.randint(0, 256, w * h * 3, dtype=np.uint8).tobytes()
        payload = encode_jpeg(pixels, w, h)
        dw, dh, dpix, segs, blocks = decode_jpeg(payload)
        assert (dw, dh) == (w, h)
        assert blocks == 3 * ((w + 7) // 8) * ((h + 7) // 8)
        # SOI APP0 DQT DQT SOF0 DHT*4 SOS EOI
        assert len(segs) == 11 and segs[0] == 0xFFD8
        err = np.abs(
            np.frombuffer(dpix, np.uint8).astype(np.int16)
            - np.frombuffer(pixels, np.uint8).astype(np.int16)
        ).max()
        assert err <= 8, f"{w}x{h}: err {err}"
    # Annex-K lossy tables: structurally decodable (no pixel bound)
    pixels = rng.randint(0, 256, 16 * 16 * 3, dtype=np.uint8).tobytes()
    payload = encode_jpeg(
        pixels, 16, 16, quant=(JPEG_QUANT_LUM, JPEG_QUANT_CHROM)
    )
    dw, dh, dpix, _, _ = decode_jpeg(payload)
    assert (dw, dh, len(dpix)) == (16, 16, 16 * 16 * 3)
    # declared bounds are rejected, not mis-decoded
    with _pt.raises(ValueError):
        decode_jpeg(b"\x89PNG")  # bad SOI
    with _pt.raises(ValueError):
        decode_jpeg(payload[:40])  # truncated before SOS
    prog = bytearray(payload)
    sof_at = payload.index(b"\xff\xc0")
    prog[sof_at + 1] = 0xC2  # progressive
    with _pt.raises(ValueError):
        decode_jpeg(bytes(prog))


def test_mp4_demux_roundtrip():
    """encode_mp4 -> demux_mp4: box walk, metadata, and the
    stsc/stco sample-table walk recover every planted sample's exact
    byte range — across chunk groupings (short tail, exact multiple,
    single short chunk), co64 64-bit chunk offsets, 64-bit largesize
    boxes, and malformed-input rejection."""
    import struct

    import pytest as _pt

    from dbeam_spark.operators.multimodal import (
        _mp4_box,
        demux_mp4,
        encode_mp4,
        mp4_sample_bytes,
    )

    for doc, w, h, n, spc, co64 in [
        (b"hello world", 320, 240, 7, 3, False),  # short tail chunk
        (b"", 16, 16, 1, 3, False),               # empty doc, 1 sample
        (b"x" * 1000, 640, 480, 24, 3, True),     # co64 offsets
        (b"abc", 32, 16, 3, 5, False),            # single short chunk
        (b"abcdef", 48, 32, 6, 3, False),         # exact multiple
    ]:
        p = encode_mp4(doc, w, h, n, samples_per_chunk=spc,
                       force_co64=co64)
        d = demux_mp4(p)
        t = d["tracks"][0]
        assert d["brand"] == "isom"
        assert (t["width"], t["height"]) == (w, h)
        assert t["codec"] == "mp4v" and t["handler"] == "vide"
        assert t["n_samples"] == n
        assert t["media_timescale"] == 12800
        assert t["sample_deltas"] == [(n, 512)]
        assert d["duration_ms"] == n * 512 * 1000 // 12800
        for i, (off, sz) in enumerate(t["samples"]):
            assert p[off:off + sz] == mp4_sample_bytes(doc, i)

    # 64-bit largesize wrapper around a whole valid file still walks
    p = encode_mp4(b"large", 32, 32, 4)
    wrapped = _mp4_box(b"udta", p, force_large=True)
    assert struct.unpack_from(">I", wrapped, 0)[0] == 1  # largesize
    d = demux_mp4(wrapped)  # udta is a container -> descends
    assert d["tracks"][0]["n_samples"] == 4

    # malformed inputs are rejected, not mis-walked
    with _pt.raises(ValueError):
        demux_mp4(b"\x00\x00\x00\x30ftyp")  # size past EOF
    trunc = bytearray(p)
    trunc[0:4] = struct.pack(">I", 1)  # claims largesize, no room
    with _pt.raises(ValueError):
        demux_mp4(bytes(trunc[:12]))


def test_wav_codec_roundtrip():
    """encode_wav -> decode_wav is identity on PCM frames and format
    fields for mono/stereo and 8/16-bit widths."""
    import random

    from dbeam_spark.operators.multimodal import decode_wav, encode_wav

    rng = random.Random(7)
    for ch, sw, rate, frames in [
        (1, 2, 8000, 100), (2, 2, 44100, 64), (1, 1, 16000, 333)
    ]:
        samples = bytes(
            rng.randrange(256) for _ in range(frames * ch * sw)
        )
        payload = encode_wav(samples, rate=rate, channels=ch, sampwidth=sw)
        dch, dsw, drate, dframes, dec = decode_wav(payload)
        assert (dch, dsw, drate, dframes) == (ch, sw, rate, frames)
        assert dec == samples


def _flip_first(b: bytes) -> bytes:
    return bytes([b[0] ^ 0xFF]) + b[1:]


def _shift_first_sample(d: dict) -> dict:
    off, sz = d["tracks"][0]["samples"][0]
    d["tracks"][0]["samples"][0] = (off + 1, sz)
    return d


# The decoder each ROUNDTRIPS row checks, and one corruption of its
# output: a flipped output byte, or a walked range one byte off.
_CORRUPT_DECODE = {
    "bmp": ("decode_bmp", lambda o: (*o[:3], _flip_first(o[3]))),
    "png": ("decode_png", lambda o: (*o[:3], _flip_first(o[3]), o[4])),
    "jpeg": ("decode_jpeg", lambda o: (*o[:2], _flip_first(o[2]), *o[3:])),
    "jpeg_screen": ("screen_jpeg", lambda rep: {**rep, "scan_end": -1}),
    "mp4": ("demux_mp4", _shift_first_sample),
    "wav": ("decode_wav", lambda o: (*o[:4], _flip_first(o[4]))),
}

# Each query oracle's facts at octet_length = 0, written with the
# oracle's own formulas; the round-trip check (last fact) is TRUE.
_EMPTY_DOC_FACTS = {
    "bmp": (8, 6, 54 + ((8 * 3 + 3) // 4) * 4 * 6, True),
    "png": (8, 5, 5 * (1 + 8 * 3), min(5, 5), True),
    "jpeg": (8, 6, 3 * ((8 + 7) // 8) * ((6 + 7) // 8), 11, True),
    "jpeg_screen": (True, 3 * ((8 + 7) // 8) * ((6 + 7) // 8), True),
    "mp4": (
        16 * 2, 16 * 1, 5, (5 + 2) // 3,
        sum(16 + (7 * i + 0) % 48 for i in range(5)),
        5 * 512 * 1000 // 12800, "mp4v", True,
    ),
    "wav": (64, 8000, 44 + 64 * 2, (64 + 15) // 16, True),
}


@pytest.mark.parametrize("fmt", sorted(multimodal.ROUNDTRIPS))
def test_roundtrip_check_is_live(fmt, monkeypatch):
    """Each round-trip row's check really compares decoded output: a
    decoder that corrupts one byte turns the last fact FALSE (the
    oracles only ever see TRUE). An empty document plants at the
    geometry its oracle computes from octet_length = 0."""
    facts, ddl = multimodal.ROUNDTRIPS[fmt]
    assert len(_EMPTY_DOC_FACTS[fmt]) == len(ddl.split(", "))
    assert facts(b"") == _EMPTY_DOC_FACTS[fmt]
    doc = "naïve round trip ".encode() * 3
    assert facts(doc)[-1] is True
    name, corrupt = _CORRUPT_DECODE[fmt]
    decoder = getattr(multimodal, name)
    monkeypatch.setattr(
        multimodal, name, lambda payload: corrupt(decoder(payload))
    )
    assert facts(doc)[-1] is False
    assert facts(b"")[-1] is False
