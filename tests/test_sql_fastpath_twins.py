"""Value-equality pins for the r10 single-parse SQL fast paths.

The shared expression helpers (tokenize / token_count / shingles /
dot_product / l2_norm / l2_distance / cosine_similarity / portable_hash64 /
mulmod_affine_p61) gained a branch that renders the SAME expression tree as
one F.expr parse when given a plain column name, and the renderers
sql_double (a Python float as a DOUBLE literal, NaN and ±Infinity included)
and sql_inputs (quoted names, or fixed aliases for dotted ones) carry
query vectors and centroids into such SQL text — ~10-50x cheaper to build
than the py4j-composed Column tree (guide §5: the driver should do almost
no work; plan-build was 39% of the r10 bench suite). The vector operators
that inline centroids or hyperplanes into SQL text are pinned on column
names that need quoting, and the LSH buckets against their Column-API
twin. These tests pin the
fast path value-identical to the Column-API path on adversarial inputs
(regex metacharacters, empty/NULL, zero vectors, unicode), so a rendering
drift can never silently change query results.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _pairs(df, fast_col, slow_col):
    rows = df.select(
        fast_col.alias("fast"), slow_col.alias("slow")
    ).collect()
    assert rows, "fixture produced no rows"
    for r in rows:
        assert r["fast"] == r["slow"], (r["fast"], r["slow"])


@pytest.fixture(scope="module")
def texts(spark):
    rows = [
        (1, "The quick brown fox; jumps-over 42 lazy dogs!!"),
        (2, ""),
        (3, None),
        (4, "a bb ccc dddd  \t eeeee\nff"),
        (5, "MiXeD CaSe 'quotes' \"double\" `backtick` \\backslash"),
        (6, "x" * 500),
        (7, "tab\tsep\tand nbsp words here"),
    ]
    return spark.createDataFrame(rows, "id long, text string")


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (2, [0.0, 0.0, 0.0], [1.0, -1.0, 2.0]),  # zero-norm side
        (3, [1e-8, 2e300, -3.5], [7.25, 0.125, 9.0]),
        (4, [0.1, 0.2, 0.3], [0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "id long, a array<double>, b array<double>")


def test_tokenize_twin(texts):
    from vectordb_bioinsight_spark.functions.text import tokenize

    _pairs(texts, tokenize("text"), tokenize(F.col("text")))
    _pairs(texts, tokenize("text", min_len=1), tokenize(F.col("text"), min_len=1))


def test_token_count_twin(texts):
    from vectordb_bioinsight_spark.functions.text import token_count

    _pairs(texts, token_count("text"), token_count(F.col("text")))


def test_shingles_twin(texts):
    from vectordb_bioinsight_spark.functions.text import (
        shingles_from_tokens,
        tokenize,
    )

    toked = texts.select("id", tokenize("text").alias("toks"))
    for n in (2, 3, 5):
        _pairs(
            toked,
            shingles_from_tokens("toks", n),
            shingles_from_tokens(F.col("toks"), n),
        )


def test_vector_kernel_twins(vecs):
    from vectordb_bioinsight_spark.functions.vector import (
        cosine_similarity,
        dot_product,
        l2_distance,
        l2_norm,
    )

    _pairs(vecs, dot_product("a", "b"), dot_product(F.col("a"), F.col("b")))
    _pairs(vecs, l2_norm("a"), l2_norm(F.col("a")))
    _pairs(vecs, l2_distance("a", "b"), l2_distance(F.col("a"), F.col("b")))
    _pairs(
        vecs,
        cosine_similarity("a", "b"),
        cosine_similarity(F.col("a"), F.col("b")),
    )


def test_portable_hash64_twin(texts):
    from vectordb_bioinsight_spark.functions.hashing import portable_hash64

    _pairs(
        texts.filter(F.col("text").isNotNull()),
        portable_hash64("text"),
        portable_hash64(F.col("text")),
    )


def test_mulmod_affine_sql_twin(spark):
    from vectordb_bioinsight_spark.functions.hashing import (
        MINHASH_PERMS,
        mulmod_affine_p61,
        mulmod_affine_p61_sql,
    )

    # hashes across the full 60-bit domain incl. boundary values
    hs = [0, 1, (1 << 30) - 1, 1 << 30, (1 << 60) - 1, 123456789012345678 % (1 << 60)]
    df = spark.createDataFrame([(h,) for h in hs], "h long")
    for a, b in MINHASH_PERMS[:4] + MINHASH_PERMS[30:32]:
        _pairs(
            df,
            F.expr(mulmod_affine_p61_sql("`h`", a, b)),
            mulmod_affine_p61(F.col("h"), a, b),
        )


def test_quote_name_escapes_backticks_and_rejects_dots(spark):
    """ADVICE r10: a backtick in a column name must not break the fast-path
    parse (escaped by doubling), and dotted names must fall back to the
    Column branch (F.col('a.b') resolves struct field b, not a literal
    name) — both branches stay value-identical."""
    from vectordb_bioinsight_spark.functions.hashing import portable_hash64, quote_name
    from vectordb_bioinsight_spark.functions.text import token_count, tokenize

    assert quote_name("a.b") is None
    assert quote_name("we`ird") == "`we``ird`"

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None)], "id long, `we``ird` string"
    )
    got = df.select(
        tokenize("we`ird").alias("toks"),
        token_count("we`ird").alias("n"),
        portable_hash64("we`ird").alias("h"),
        tokenize(F.col("`we``ird`")).alias("toks_col"),
        token_count(F.col("`we``ird`")).alias("n_col"),
        portable_hash64(F.col("`we``ird`")).alias("h_col"),
    ).collect()
    for r in got:
        assert r["toks"] == r["toks_col"]
        assert r["n"] == r["n_col"]
        assert r["h"] == r["h_col"]

    # dotted access keeps struct-field semantics through the helpers
    s = spark.createDataFrame([(1, ("alpha beta gamma",))], "id long, a struct<b string>")
    row = s.select(
        tokenize("a.b").alias("toks"), tokenize(F.col("a.b")).alias("toks_col")
    ).collect()[0]
    assert row["toks"] == row["toks_col"] == ["alpha", "beta", "gamma"]


def test_sql_double_literals(spark):
    from vectordb_bioinsight_spark.functions.hashing import sql_double

    xs = [1e300, 1e-05, -0.0, 0.1, -2.5, 3.0, float("nan"), float("inf"), float("-inf")]
    assert [sql_double(x) for x in xs[:3]] == ["1e+300D", "1e-05D", "-0.0D"]
    assert sql_double(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert sql_double(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"
    row = spark.range(1).selectExpr(*[f"{sql_double(x)} AS c{i}" for i, x in enumerate(xs)]).collect()[0]
    for i, x in enumerate(xs):
        got = row[f"c{i}"]
        assert (math.isnan(got) and math.isnan(x)) or (got == x and math.copysign(1, got) == math.copysign(1, x))


def test_sql_string_literals(spark):
    from vectordb_bioinsight_spark.functions.hashing import sql_string

    xs = ["plain", "o'brien", "a\\b", "\\'", "'", "tab\there", "", "x\\nnot a newline"]
    assert sql_string("o'brien") == "'o\\'brien'"
    row = spark.range(1).selectExpr(*[f"{sql_string(x)} AS c{i}" for i, x in enumerate(xs)]).collect()[0]
    assert [row[f"c{i}"] for i in range(len(xs))] == xs


def _same(a, b):
    return a == b or (a is not None and b is not None and math.isnan(a) and math.isnan(b))


@pytest.mark.parametrize("qv", [[float("nan"), 1.0, 0.5], [float("inf"), -1.0, 2.0], [1.0, float("-inf"), 0.0]])
@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
def test_knn_non_finite_query_vector(vecs, qv, metric):
    """A NaN/±Infinity query component renders as a parseable literal and
    scores like the twin built from F.lit literals."""
    from vectordb_bioinsight_spark.functions.vector import dot_product, l2_distance, l2_norm
    from vectordb_bioinsight_spark.operators.vector import knn_brute_force

    q = F.array(*[F.lit(x) for x in qv])
    q_norm = math.sqrt(sum((x * x for x in qv), 0.0))
    twin = {
        "cosine": dot_product(F.col("a"), q) / F.nullif(l2_norm("a") * F.lit(q_norm), F.lit(0.0)),
        "dot": dot_product(F.col("a"), q),
        "l2": l2_distance(F.col("a"), q),
    }[metric]
    want = {r["id"]: r["s"] for r in vecs.select("id", F.round(twin, 6).alias("s")).collect()}
    got = {r["id"]: r["score"] for r in knn_brute_force(vecs, "id", "a", qv, k=10, metric=metric).collect()}
    assert got.keys() == want.keys()
    for i in want:
        assert _same(got[i], want[i]), (i, got[i], want[i])


def test_pq_encode_non_finite_centroid(vecs):
    """Centroids holding NaN/±Infinity render as parseable literals; codes
    equal the twin argmin built from F.lit literals."""
    from vectordb_bioinsight_spark.operators.pq import pq_encode

    codebook = [[[float("nan"), 0.0, 1.0], [float("inf"), 1.0, 1.0], [0.5, float("-inf"), 0.0], [1.0, 2.0, 3.0]]]

    def d2(c):
        arr = F.array(*[F.lit(x) for x in c])
        return F.aggregate(
            F.zip_with(F.slice("a", 1, 3), arr, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    twin = F.array_min(
        F.array(*[F.struct(F.round(d2(c), 6).alias("d"), F.lit(j).alias("c")) for j, c in enumerate(codebook[0])])
    )["c"]
    rows = pq_encode(vecs, "id", "a", codebook).select(F.col("pq_code")[0].alias("fast"), twin.alias("slow")).collect()
    assert rows
    for r in rows:
        assert r["fast"] == r["slow"], (r["fast"], r["slow"])


@pytest.fixture(scope="module")
def named_vectors(spark):
    """The same ids and vectors under a plain column name, a name holding a
    backtick and a dotted struct field: (frame, vector column name)."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(24)]
    rows += [(90, [0.0] * 4)]
    return {
        "plain": (spark.createDataFrame(rows, "id long, v array<double>"), "v"),
        "backtick": (spark.createDataFrame(rows, "id long, `v``x` array<double>"), "v`x"),
        "dotted": (
            spark.createDataFrame([(i, (v,)) for i, v in rows], "id long, meta struct<v: array<double>>"),
            "meta.v",
        ),
    }


@pytest.mark.parametrize("name", ["backtick", "dotted"])
def test_vector_column_name_quoting(spark, named_vectors, name):
    """pq_encode, assign_fixed_centroids, lsh_assign_buckets and
    ivf_search_replay give the same result for a vector column whose name
    needs backtick escaping, or is a dotted struct field, as for a plain
    name."""
    from vectordb_bioinsight_spark.operators.pq import pq_encode
    from vectordb_bioinsight_spark.operators.semdedup import assign_fixed_centroids
    from vectordb_bioinsight_spark.operators.vector import ivf_search_replay, lsh_assign_buckets

    codebook = [[[0.5, -0.5], [-0.5, 0.5], [0.0, 0.0]], [[1.0, 1.0], [-1.0, -1.0], [0.2, -0.2]]]
    cents = spark.createDataFrame(
        [(0, [0.5, 0.5, 0.5, 0.5]), (1, [-0.5, -0.5, 0.5, 0.5]), (2, [0.5, -0.5, -0.5, 0.5])],
        "_cell int, _centroid array<double>",
    )

    def run(df, col):
        queries = df.filter("id < 4")
        return {
            "pq": sorted(tuple(r) for r in pq_encode(df, "id", col, codebook).select("id", "pq_code").collect()),
            "semdedup": sorted(
                tuple(r)
                for r in assign_fixed_centroids(df, "id", col, n_clusters=3)
                .select("id", "cluster_id", "centroid_cos")
                .collect()
            ),
            "lsh": sorted(tuple(r) for r in lsh_assign_buckets(df, "id", col, dim=4, num_planes=5).select("id", "bucket").collect()),
            "ivf": sorted(tuple(r) for r in ivf_search_replay(df, queries, "id", "id", col, cents, k=3, n_probe=2).collect()),
        }

    want = run(*named_vectors["plain"])
    got = run(*named_vectors[name])
    assert all(want.values())
    assert got == want
    # outputs keep every input column and add only their own
    df, col = named_vectors[name]
    assert pq_encode(df, "id", col, codebook).columns == [*df.columns, "pq_code"]
    assert assign_fixed_centroids(df, "id", col, 3).columns == [*df.columns, "cluster_id", "centroid_cos"]
    assert lsh_assign_buckets(df, "id", col, 4, 5).columns == [*df.columns, "bucket"]


def _lsh_buckets_column_twin(vectors, vec_col, dim, num_planes, seed):
    """The Column-API composition lsh_assign_buckets used before it rendered
    SQL text: one F.lit per plane coefficient."""
    from vectordb_bioinsight_spark.functions.vector import dot_product
    from vectordb_bioinsight_spark.operators.vector import lsh_planes

    bucket = F.lit(0).cast("long")
    for j, p in enumerate(lsh_planes(dim, num_planes, seed)):
        pv = F.array(*[F.lit(x) for x in p])
        bucket = bucket + F.when(dot_product(F.col(vec_col), pv) >= 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def test_lsh_buckets_match_column_twin(spark):
    """Buckets over a fixed seeded table (zero vector and NULL included)
    equal the Column-API twin's, row for row, with 33 planes so the top
    bits exceed an int."""
    import random

    from vectordb_bioinsight_spark.operators.vector import lsh_assign_buckets

    rng = random.Random(17)
    dim = 16
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(dim)]) for i in range(200)]
    rows += [(500, [0.0] * dim), (501, None)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    for planes, seed in ((8, 42), (33, 7)):
        twin = _lsh_buckets_column_twin(df, "embedding", dim, planes, seed)
        got = lsh_assign_buckets(df, "id", "embedding", dim, planes, seed).select(
            "id", "bucket", twin.alias("twin")
        )
        rows_out = got.collect()
        assert len(rows_out) == len(rows)
        assert len({r["bucket"] for r in rows_out}) > 1
        for r in rows_out:
            assert r["bucket"] == r["twin"], (r["id"], r["bucket"], r["twin"])
        assert got.schema["bucket"].dataType.simpleString() == "bigint"


#: py4j round trips allowed to build one knn_lsh query (64 dims, 8 planes);
#: the Column-API composition of the buckets took ~2,700
MAX_KNN_LSH_ROUND_TRIPS = 100


def test_knn_lsh_build_round_trips(spark):
    """Building one knn_lsh query renders the bucket expression as SQL text
    and parses it once, within a py4j round-trip budget."""
    import random

    from vectordb_bioinsight_spark.operators.vector import knn_lsh

    rng = random.Random(5)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(100)], "vec_id long, embedding array<double>"
    )
    qv = [rng.uniform(-1, 1) for _ in range(64)]
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(*args, **kwargs):
        sent.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        top = knn_lsh(df, "vec_id", "embedding", qv, dim=64, k=5, num_planes=8)
    finally:
        del client.send_command
    assert len(sent) <= MAX_KNN_LSH_ROUND_TRIPS, len(sent)
    top.collect()
