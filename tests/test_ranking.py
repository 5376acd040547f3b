"""``operators.ranking.top_k``: the per-key and global top-k shared by the
similarity, dedup, retrieval and run-history operators, checked against a
plain Python sort."""

from pyspark.sql import functions as F

from ragstudio_spark.operators.ranking import top_k

# (key, id, score): key "a" has a three-way score tie, key "c" one row
ROWS = [("a", 1, 5), ("a", 2, 9), ("a", 3, 5), ("a", 4, 5), ("a", 5, 1),
        ("b", 6, 2), ("b", 7, 8), ("c", 8, 3)]


def _order():
    return [F.desc("score"), F.asc("id")]


def _df(spark):
    return spark.createDataFrame(ROWS, "key string, id int, score int")


def _head(rows, k):
    """(key, id, rank) of the first k rows by (score desc, id asc)."""
    ranked = sorted(rows, key=lambda r: (-r[2], r[1]))[:k]
    return [(r[0], r[1], i) for i, r in enumerate(ranked, 1)]


def _per_key(k):
    return sorted(t for g in {r[0] for r in ROWS}
                  for t in _head([r for r in ROWS if r[0] == g], k))


def test_per_key_ties_resolve_by_the_given_order(spark):
    got = top_k(_df(spark), 3, _order(), by=["key"], rank="rank")
    assert sorted(got.select("key", "id", "rank").collect()) == _per_key(3)
    # key "a": score 9 first, then the three 5s by id asc
    assert [r.id for r in got.filter("key = 'a'").orderBy("rank").collect()] \
        == [2, 1, 3]


def test_k_larger_than_the_group_keeps_the_whole_group(spark):
    got = top_k(_df(spark), 10, _order(), by=["key"], rank="rank")
    assert sorted(got.select("key", "id", "rank").collect()) == _per_key(10)
    assert got.count() == len(ROWS)


def test_k_one_keeps_the_first_row_per_key(spark):
    got = top_k(_df(spark), 1, _order(), by=["key"], rank="rank")
    assert sorted(got.select("key", "id", "rank").collect()) == [
        ("a", 2, 1), ("b", 7, 1), ("c", 8, 1)]


def test_global_form_is_the_head_of_a_full_sort(spark):
    got = top_k(_df(spark), 4, _order(), rank="rank")
    assert sorted(got.select("key", "id", "rank").collect()) \
        == sorted(_head(ROWS, 4))
    assert sorted(r.rank for r in got.collect()) == [1, 2, 3, 4]


def test_rank_none_drops_the_rank_column(spark):
    df = _df(spark)
    per_key = top_k(df, 2, _order(), by=["key"])
    assert per_key.columns == df.columns
    assert sorted((r.key, r.id) for r in per_key.collect()) \
        == [(k, i) for k, i, _ in _per_key(2)]
    glob = top_k(df, 2, _order())
    assert glob.columns == df.columns
    assert sorted(r.id for r in glob.collect()) == [2, 7]
