"""The shared near-duplicate joins (operators/banding.py) against Python
brute force on hand-made postings."""

from __future__ import annotations

from itertools import combinations

from big_data_computing_final_project_spark.operators.banding import (
    bucket_pairs,
    expand_groups,
)

# (id, band, key): 1 and 2 agree in two bands (still one pair), 3 joins
# them in band 1, 4 is alone, 5 and 6 agree in band 0
_NEW = [
    (1, 0, 10), (1, 1, 20),
    (2, 0, 10), (2, 1, 20),
    (3, 0, 11), (3, 1, 20),
    (4, 0, 12), (4, 1, 21),
    (5, 0, 13), (6, 0, 13),
]
# earlier postings: 7 and 8 share a bucket (a pair within ``against``,
# never returned), 7 also meets 1 and 2, 9 meets 4, and 9 holds 5's key
# in another band (no pair); 0 sits below the new ids it meets (5 and 6);
# 4's own posting repeated here must not pair 4 with itself
_OLD = [
    (7, 0, 10), (8, 0, 10),
    (9, 1, 21), (9, 1, 13),
    (0, 0, 13),
    (4, 0, 12),
]


def _postings(spark, rows):
    return spark.createDataFrame(rows, "id long, band int, key long")


def _brute(rows, against=()):
    def share(p, q):
        return any((b, k) in q for b, k in p)

    by_id: dict = {}
    for i, b, k in rows:
        by_id.setdefault(i, set()).add((b, k))
    old: dict = {}
    for i, b, k in against:
        old.setdefault(i, set()).add((b, k))
    pairs = {(a, b) for a, b in combinations(sorted(by_id), 2) if share(by_id[a], by_id[b])}
    pairs |= {
        (min(n, o), max(n, o)) for n in by_id for o in old if n != o and share(by_id[n], old[o])
    }
    return pairs


def test_bucket_pairs_matches_brute_force(spark):
    got = [(r.a, r.b) for r in bucket_pairs(_postings(spark, _NEW)).collect()]
    assert len(got) == len(set(got)), "one row per pair"
    assert all(a < b for a, b in got)
    assert set(got) == _brute(_NEW) == {(1, 2), (1, 3), (2, 3), (5, 6)}


def test_bucket_pairs_against_earlier_postings(spark):
    new, old = _postings(spark, _NEW), _postings(spark, _OLD)
    got = [(r.a, r.b) for r in bucket_pairs(new, against=old).collect()]
    assert len(got) == len(set(got)), "one row per pair"
    assert all(a < b for a, b in got), "oriented, no self-pairs"
    assert (7, 8) not in set(got), "pairs within `against` are not returned"
    assert set(got) == _brute(_NEW, _OLD)
    assert {(1, 7), (2, 7), (4, 9), (0, 5), (0, 6)} <= set(got)


def test_expand_groups_payloads(spark):
    """Within-group pairs take the members' payload; each rep pair crosses
    the members of its two groups with its own payload."""
    members = spark.createDataFrame(
        [(1, 1, 1.0), (5, 1, 1.0), (9, 1, 1.0), (2, 2, 0.99), (4, 4, 1.0), (3, 2, 0.99)],
        "id long, rep long, score double",
    )
    rep_pairs = spark.createDataFrame([(1, 2, 0.5), (2, 4, 0.7)], "a long, b long, score double")
    got = sorted(tuple(r) for r in expand_groups(members, rep_pairs).collect())

    groups = {1: [1, 5, 9], 2: [2, 3], 4: [4]}
    own = {1: 1.0, 2: 0.99, 4: 1.0}
    want = [(a, b, own[g]) for g, ids in groups.items() for a, b in combinations(ids, 2)]
    for ra, rb, score in [(1, 2, 0.5), (2, 4, 0.7)]:
        want += [(min(x, y), max(x, y), score) for x in groups[ra] for y in groups[rb]]
    assert got == sorted(want)
    assert all(a < b for a, b, _ in got)
