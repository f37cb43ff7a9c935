"""Property-based invariants (hypothesis) for the core kernels.

Each property runs a handful of generated examples through real Spark jobs,
so example counts are small and deadlines disabled — the value is the
generator's adversarial shapes (empty docs, dup tokens, fractional-second
timestamps, NULLs), not volume.
"""

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from nhse_probabilistic_linkage_spark.operators.lsh import GROUPED_TIER_ROWS, candidate_pairs

TOKEN = st.text(alphabet="abcdefgh", min_size=1, max_size=3)
DOC = st.lists(TOKEN, min_size=0, max_size=40)

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@settings(**_SETTINGS)
@given(a=DOC, b=DOC)
def test_shingle_representation_preserves_jaccard(spark, a, b):
    """The v2 windowed-hash shingles must induce the same SET semantics as
    v1 string shingles: per-doc distinct count and pairwise jaccard agree
    for any token sequences (hash collisions are ~2^-64, never seen)."""
    from nhse_probabilistic_linkage_spark.functions.text import (
        shingle_hashes,
        shingles,
        tokenize,
        windowed_shingle_hashes,
    )

    df = spark.createDataFrame([(1, " ".join(a)), (2, " ".join(b))], "id long, text string")
    t = df.withColumn("_toks", tokenize(F.col("text"))).withColumn(
        "_th", F.transform(F.col("_toks"), lambda x: F.xxhash64(x))
    )
    rows = t.select(
        "id",
        shingle_hashes(shingles(F.col("_toks"), 5)).alias("v1"),
        windowed_shingle_hashes(F.col("_th"), 5).alias("v2"),
    ).collect()
    by_id = {r.id: r for r in rows}
    for i in (1, 2):
        assert len(set(by_id[i].v1)) == len(set(by_id[i].v2))

    def jac(x, y):
        return len(x & y) / len(x | y) if (x | y) else None

    # pairwise jaccard identical under both representations
    j_v1 = jac(set(by_id[1].v1), set(by_id[2].v1))
    j_v2 = jac(set(by_id[1].v2), set(by_id[2].v2))
    assert j_v1 == j_v2


@settings(**_SETTINGS)
@given(
    a=st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=25),
    b=st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=25),
)
def test_verify_jaccard_equals_set_jaccard(spark, a, b):
    """verify_pairs' arithmetic-union jaccard equals the plain set-theoretic
    jaccard for arbitrary arrays, INCLUDING inputs with duplicate elements
    (the per-doc size uses array_distinct) and empty arrays (-> 1.0)."""
    from nhse_probabilistic_linkage_spark.operators.verify import verify_pairs

    docs = spark.createDataFrame(
        [(1, [int(x) for x in a]), (2, [int(x) for x in b])],
        "doc_id long, shingles array<bigint>",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_l long, id_r long")
    got = verify_pairs(pairs, docs).collect()[0]["jaccard"]
    sa, sb = set(a), set(b)
    want = len(sa & sb) / len(sa | sb) if (sa | sb) else 1.0
    assert got == pytest.approx(want)


@settings(**_SETTINGS)
@given(
    points=st.lists(
        st.integers(min_value=0, max_value=7_200_000),  # ms offsets over 2h
        min_size=1,
        max_size=15,
    ),
    intervals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7_200_000),
            st.integers(min_value=0, max_value=600_000),  # width ms
        ),
        min_size=1,
        max_size=8,
    ),
    bucket_seconds=st.sampled_from([60, 600, 3600]),
)
def test_range_join_matches_brute_force(spark, points, intervals, bucket_seconds):
    """Bucketized range join == brute-force containment join for arbitrary
    (fractional-second) timestamps and bucket widths."""
    from nhse_probabilistic_linkage_spark.operators.ranges import range_join

    base = datetime(2024, 1, 1)
    p = spark.createDataFrame(
        [(i, base + timedelta(milliseconds=ms)) for i, ms in enumerate(points)],
        "pid long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [
            (j, base + timedelta(milliseconds=s), base + timedelta(milliseconds=s + w))
            for j, (s, w) in enumerate(intervals)
        ],
        "iid long, start timestamp, end timestamp",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(p, iv, bucket_seconds=bucket_seconds).collect()
    )
    want = sorted(
        (i, j)
        for i, ms in enumerate(points)
        for j, (s, w) in enumerate(intervals)
        if s <= ms < s + w
    )
    assert got == want


@settings(**_SETTINGS)
@given(
    lefts=st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=12),
    rights=st.lists(st.integers(min_value=0, max_value=1000), min_size=0, max_size=10, unique=True),
)
def test_asof_matches_brute_force(spark, lefts, rights):
    """asof_join == per-row brute force (latest right ts <= left ts) when
    right timestamps are unique (the hash tie-break only matters for
    duplicate (key, ts) rights, which are excluded here to keep the brute
    model well-defined)."""
    from nhse_probabilistic_linkage_spark.operators.asof import asof_join

    base = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, base + timedelta(seconds=s)) for i, s in enumerate(lefts)],
        "lid long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(base + timedelta(seconds=s), float(s)) for s in rights],
        "ts timestamp, v double",
    )
    got = {r.lid: r.asof_v for r in asof_join(left, right, on="ts").collect()}
    for i, s in enumerate(lefts):
        earlier = [r for r in rights if r <= s]
        want = float(max(earlier)) if earlier else None
        assert got[i] == want, (i, s)


def _band_model(rows, band_cap):
    """Reference semantics of candidate_pairs in plain Python: a band's size
    counts every row (duplicate (band, id) rows included), bands above
    band_cap are dropped and reported, every other band yields all pairs of
    its distinct ids, and match_key is the smallest band_id that fired."""
    members: dict[int, list[int]] = {}
    band_ids: dict[int, int] = {}
    for doc_id, band_id, band_key in rows:
        members.setdefault(band_key, []).append(doc_id)
        band_ids[band_key] = min(band_ids.get(band_key, band_id), band_id)
    pairs: dict[tuple[int, int], int] = {}
    dropped = []
    for band_key, ids in members.items():
        band_id = band_ids[band_key]
        if band_cap is not None and len(ids) > band_cap:
            dropped.append((band_key, len(ids)))
            continue
        uniq = sorted(set(ids))
        for i, a in enumerate(uniq):
            for b in uniq[i + 1:]:
                pairs[(a, b)] = min(pairs.get((a, b), band_id), band_id)
    return {(a, b, m) for (a, b), m in pairs.items()}, sorted(dropped)


_FIXED_BANDS = (
    [(i, 1) for i in range(3)]  # cold band
    + [(10 + i, 2) for i in range(6)]  # hot band (salted on the routed path)
    + [(100 + i, 3) for i in range(12)]  # mega band: over band_cap
)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=12), st.integers(min_value=0, max_value=5)),
        max_size=60,
    ),
    band_cap=st.one_of(st.none(), st.integers(min_value=1, max_value=12)),
    salt_threshold=st.one_of(st.none(), st.integers(min_value=1, max_value=6)),
    proof=st.integers(min_value=0, max_value=GROUPED_TIER_ROWS),
)
# the fixed cold / hot / over-cap case, true proof above band_cap
@example(rows=_FIXED_BANDS, band_cap=10, salt_threshold=4, proof=21)
# false proof at or below band_cap: the hot band must still be reported
@example(rows=[(i, 0) for i in range(6)], band_cap=4, salt_threshold=None, proof=3)
# duplicate (band, id) rows push a band over the cap under a false proof
@example(rows=[(1, 0), (1, 0), (1, 0), (2, 0)], band_cap=3, salt_threshold=2, proof=2)
@example(rows=[(i, 0) for i in range(6)] + [(1, 1)], band_cap=None, salt_threshold=2, proof=2)
@example(rows=[], band_cap=5, salt_threshold=None, proof=0)
def test_candidate_pairs_grouped_tier_equals_routed(spark, rows, band_cap, salt_threshold, proof):
    """Differential test: the grouped tier (any proof <= GROUPED_TIER_ROWS,
    true or false) and the routed path (no proof) return the same
    (id_l, id_r, match_key) set AND the same (band_key, band_size) drop
    accounting, and both equal the plain-Python model."""
    # band_id is a function of band_key, as in every real band table
    triples = [(doc_id, band_key % 3, band_key) for doc_id, band_key in rows]
    bands = spark.createDataFrame(triples, "doc_id long, band_id int, band_key long")

    def run(max_band_rows):
        pairs, dropped = candidate_pairs(
            bands, band_cap=band_cap, salt_threshold=salt_threshold, salt_groups=3,
            max_band_rows=max_band_rows,
        )
        return (
            {(r.id_l, r.id_r, r.match_key) for r in pairs.collect()},
            sorted((r.band_key, r.band_size) for r in dropped.collect()),
        )

    routed = run(None)
    assert run(proof) == routed
    assert routed == _band_model(triples, band_cap)
