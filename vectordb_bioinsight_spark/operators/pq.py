"""Product quantization (PQ) — the 100 TB ANN memory path (BASELINE ANN
extension; complements operators/vector.py's IVF and LSH routes).

PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor Search")
splits each D-dim vector into ``m`` subvectors and replaces every subvector
with the id of its nearest centroid from a per-subspace codebook of ``k``
entries — a D×4-byte float vector becomes ``m`` small ints (m bytes at
k<=256). At 100 TB of embeddings this is the difference between an index
that fits in cluster memory and one that does not; FAISS's IVF-PQ is this
exact composition (our ``ivf_build_index`` handles the coarse routing,
this module the in-cell compression).

Reference capability anchor: the reference stores raw float vectors in
Chroma and brute-forces (backend/app/core/vector_store.py:272-299);
PQ is the published scale-out of that capability, not a port.

Distributed split (the part that must survive 100 TB):
  * **Training** is sample-based (standard PQ practice — FAISS trains on
    ~1e5-1e6 samples regardless of corpus size): `pq_train_kmeans` fits m
    independent per-subspace Lloyd codebooks on a bounded, hash-sampled
    driver collect with an explicit guard. Codebook size is m*k*(D/m)
    floats — KBs — and is INLINED into the encode expression, so encoding
    broadcasts no state at all.
  * **Encoding** (`pq_encode`) is one scan-local JVM projection: per
    subspace, an argmin over k inlined centroid distances (rendered as a
    single parsed SQL expression, the semdedup trick — k*m distance folds
    parse in ~10 ms). No shuffle, no Python, embarrassingly parallel.
  * **Search** (`pq_adc_topk`) is asymmetric distance computation: the
    query builds an m*k lookup table driver-side; each candidate's
    distance is m array lookups + a sum — again scan-local — followed by
    the same TakeOrderedAndProject top-k as brute-force kNN. The corpus
    scan reads ONLY the code column (m ints/row), never the raw vectors:
    that is the whole point.

Cross-engine determinism: every distance is rounded to 6 dp before any
argmin/ordering, ties break toward the smaller code / id, and the
``pq_fixed_codebook`` path derives centroids from the first k id-sorted
corpus vectors — fully SQL-replayable, so encode+ADC get a DuckDB oracle
(the learned-codebook path is the quality twin, pinned by recall tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_bioinsight_spark.functions.hashing import quote_name, sql_double

#: driver-side guards (same discipline as semdedup.MAX_INLINE_CENTROIDS)
MAX_CODES = 256
MAX_SUBSPACES = 16
MAX_TRAIN_SAMPLE = 200_000

Codebook = list[list[list[float]]]  # [subspace][code][sub_dim]


def _check_shape(codebook: Codebook) -> tuple[int, int, int]:
    m = len(codebook)
    if not 1 <= m <= MAX_SUBSPACES:
        raise ValueError(f"m must be in [1, {MAX_SUBSPACES}]")
    k = len(codebook[0])
    if not 1 <= k <= MAX_CODES:
        raise ValueError(f"k must be in [1, {MAX_CODES}]")
    sub_d = len(codebook[0][0])
    for cb in codebook:
        if len(cb) != k or any(len(c) != sub_d for c in cb):
            raise ValueError("ragged codebook")
    return m, k, sub_d


def pq_fixed_codebook(
    vectors: DataFrame, id_col: str, vec_col: str, m: int = 4, k: int = 16
) -> Codebook:
    """Deterministic codebook: subspace i's codes are the i-th subvectors
    of the first ``k`` id-sorted corpus vectors. No training, exactly
    reproducible in ANSI SQL (ORDER BY id LIMIT k) — the oracle-checkable
    path; use :func:`pq_train_kmeans` for production quality."""
    if k > MAX_CODES:
        raise ValueError(f"k must be <= {MAX_CODES}")
    rows = vectors.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(rows) < k:
        raise ValueError(f"corpus has {len(rows)} rows < k={k}")
    dim = len(rows[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [[float(x) for x in r[vec_col][i * sub : (i + 1) * sub]] for r in rows]
        for i in range(m)
    ]


def pq_train_kmeans(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 16,
    iters: int = 10,
    seed: int = 42,
    max_sample: int = MAX_TRAIN_SAMPLE,
) -> Codebook:
    """Quality codebook: m independent per-subspace Lloyd k-means fits on a
    deterministic hash-sampled driver collect (bounded by ``max_sample`` —
    raises rather than silently truncating differently per run).

    Sample-based training is the standard PQ recipe (FAISS caps training
    points the same way); encode/search stay fully distributed. Seeded
    init (first k distinct sampled subvectors in hash order) + fixed
    iteration count -> the same codebook on every run and cluster size.
    """
    import numpy as np

    from vectordb_bioinsight_spark.functions.hashing import portable_hash64

    n = vectors.count()
    if n > max_sample:
        frac = max_sample / n
        keyed = vectors.select(
            (F.pmod(portable_hash64(F.col(id_col).cast("string")), F.lit(1_000_000))).alias(
                "_h"
            ),
            F.col(vec_col).alias("_v"),
        ).where(F.col("_h") < int(frac * 1_000_000))
        rows = keyed.orderBy("_h").limit(max_sample).collect()
        mat = np.asarray([r["_v"] for r in rows], dtype=np.float64)
    else:
        mat = np.asarray(
            [r[vec_col] for r in vectors.select(vec_col).orderBy(F.col(vec_col).getItem(0)).collect()],
            dtype=np.float64,
        )
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    out: Codebook = []
    for i in range(m):
        X = mat[:, i * sub : (i + 1) * sub]
        # deterministic init: k distinct rows in lexicographic order
        uniq = np.unique(X, axis=0)
        if len(uniq) < k:
            raise ValueError(f"subspace {i}: only {len(uniq)} distinct subvectors < k={k}")
        C = uniq[:k].copy()
        for _ in range(iters):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for j in range(k):
                pts = X[a == j]
                if len(pts):
                    C[j] = pts.mean(axis=0)
        out.append([[float(x) for x in c] for c in C])
    return out


def _sub_slice_sql(vec_sql: str, i: int, sub_d: int) -> str:
    return f"slice({vec_sql}, {i * sub_d + 1}, {sub_d})"


def _d2_sql(sub_sql: str, cent: list[float]) -> str:
    arr = "array(" + ",".join(sql_double(c) for c in cent) + ")"
    return (
        f"aggregate(zip_with({sub_sql}, {arr},"
        f" (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        f" 0.0D, (acc, v) -> acc + v)"
    )


def pq_encode(
    vectors: DataFrame, id_col: str, vec_col: str, codebook: Codebook
) -> DataFrame:
    """Scan-local PQ encoding: input + ``pq_code`` (array<int>, length m).

    Per subspace: argmin over the k inlined centroid L2² distances,
    rounded 6 dp, ties to the smaller code (struct array_min — total
    order). The whole m×k expression tree is rendered as ONE SQL string
    and parsed once; Catalyst codegens it like any other projection."""
    m, k, sub_d = _check_shape(codebook)
    vq = quote_name(vec_col)
    if vq is None:  # dotted name (F.col semantics): read it under a fixed alias
        return pq_encode(
            vectors.withColumn("_pq_in", F.col(vec_col)), id_col, "_pq_in", codebook
        ).drop("_pq_in")
    subs = []
    for i in range(m):
        sub_sql = _sub_slice_sql(vq, i, sub_d)
        entries = ",".join(
            f"struct(round({_d2_sql(sub_sql, codebook[i][j])}, 6) AS d, {j} AS c)"
            for j in range(k)
        )
        subs.append(f"array_min(array({entries})).c")
    code_sql = "array(" + ",".join(subs) + ")"
    return vectors.withColumn("pq_code", F.expr(code_sql))


def pq_encode_gemm(
    vectors: DataFrame, id_col: str, vec_col: str, codebook: Codebook
) -> DataFrame:
    """Arrow-batched twin of :func:`pq_encode` for large m*k (the fold
    expression tree grows with m*k; past ~1k codes the vectorized numpy
    argmin per batch wins). Same output, equivalence test-pinned."""
    import numpy as np
    import pandas as pd

    m, k, sub_d = _check_shape(codebook)
    C = np.asarray(codebook, dtype=np.float64)  # (m, k, sub_d)
    fields = vectors.schema.fields
    out_schema = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in fields)
        + ", pq_code array<int>"
    )

    def encode(batches):
        for pdf in batches:
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for i in range(m):
                sub = X[:, i * sub_d : (i + 1) * sub_d]
                d2 = ((sub[:, None, :] - C[i][None, :, :]) ** 2).sum(axis=2)
                codes[:, i] = np.round(d2, 6).argmin(axis=1)
            out = pdf.copy()
            out["pq_code"] = pd.Series(list(codes), index=pdf.index)
            yield out

    return vectors.mapInPandas(encode, schema=out_schema)


def pq_adc_topk(
    codes: DataFrame,
    id_col: str,
    code_col: str,
    codebook: Codebook,
    query_vec: list[float],
    k_top: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: (id, adc_dist).

    The m×k LUT (query-subvector → centroid L2²) is computed driver-side
    (m*k*sub_d flops) and inlined; per candidate the scan does m
    ``element_at`` lookups + a sum — it never touches a float vector.
    LUT entries and the final sum are rounded 6 dp (cross-engine hash
    stability); top-k orders (adc_dist, id) → TakeOrderedAndProject."""
    m, k, sub_d = _check_shape(codebook)
    if len(query_vec) != m * sub_d:
        raise ValueError("query dim mismatch")
    lut = [
        [
            round(
                sum(
                    (float(query_vec[i * sub_d + d]) - codebook[i][j][d]) ** 2
                    for d in range(sub_d)
                ),
                6,
            )
            for j in range(k)
        ]
        for i in range(m)
    ]
    lut_col = F.array(*[F.array(*[F.lit(v) for v in row]) for row in lut])
    dist = F.aggregate(
        F.zip_with(
            F.col(code_col),
            lut_col,
            lambda c, row: F.element_at(row, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = codes.select(F.col(id_col), F.round(dist, 6).alias("adc_dist"))
    # orderBy+limit -> TakeOrderedAndProject: per-partition heaps, no sort
    return scored.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(k_top)


def ivfpq_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    codebook: Codebook,
    query_vec: list[float],
    n_cells: int = 8,
    n_probe: int = 2,
    k_top: int = 10,
) -> DataFrame:
    """IVF-PQ search — the full FAISS composition (coarse inverted-file
    routing x product-quantized in-cell scoring), the canonical
    billion-vector ANN layout. This is the non-residual IVFPQ variant
    (codes are built from raw vectors, not cell residuals) so every stage
    stays exactly SQL-replayable; residual encoding is a quality knob on
    the same plan shape.

    Stages and their scale behavior:
      1. **Route**: deterministic nearest-of-k fixed centroids
         (operators/semdedup.assign_fixed_centroids — cosine, 6 dp,
         rank tie-break). At 100 TB the assigned table is written
         partitioned by cell, built once, reused per query batch.
      2. **Probe**: the query ranks the k centroids driver-side (k is
         dimension-sized) and keeps ``n_probe`` cells — the scan then
         touches ~n_probe/n_cells of the corpus, and with cell-partitioned
         storage that is file-level partition PRUNING, not a filter scan.
      3. **Score**: PQ ADC inside probed cells only — the scan reads m
         small ints per row (never the float vectors) and sums m LUT
         lookups; top-k via TakeOrderedAndProject.

    Output: (id, adc_dist) — top ``k_top`` by asymmetric L2², ties to the
    smaller id.
    """
    from vectordb_bioinsight_spark.operators.semdedup import assign_fixed_centroids

    m, k, sub_d = _check_shape(codebook)
    if len(query_vec) != m * sub_d:
        raise ValueError("query dim mismatch")
    assigned = assign_fixed_centroids(vectors, id_col, vec_col, n_clusters=n_cells)

    # probe list: same cosine + rounding + rank-tie-break rule as the
    # assignment, evaluated driver-side on the k id-sorted centroids
    cents = vectors.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    qn = sum(float(x) * float(x) for x in query_vec) ** 0.5

    def _qcos(row) -> float:
        cv = [float(x) for x in row[vec_col]]
        cn = sum(x * x for x in cv) ** 0.5
        if qn * cn == 0.0:
            return -2.0
        return round(sum(a * b for a, b in zip(query_vec, cv)) / (qn * cn), 6)

    ranked = sorted(
        ((_qcos(r), rank, r[id_col]) for rank, r in enumerate(cents)),
        key=lambda t: (-t[0], t[1]),
    )
    probe_ids = [cid for _cos, _rank, cid in ranked[:n_probe]]

    members = assigned.filter(F.col("cluster_id").isin(probe_ids)).drop(
        "cluster_id", "centroid_cos"
    )
    codes = pq_encode(members, id_col, vec_col, codebook)
    return pq_adc_topk(codes, id_col, "pq_code", codebook, query_vec, k_top=k_top)


def sq8_quantize(
    df: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Scalar 8-bit quantization (the FAISS SQ8 layout, the 4x memory
    lever below PQ): per-dimension [lo, hi] ranges from the data, each
    component encoded to round((x - lo) / (hi - lo) * 255) — plus the
    per-vector reconstruction MSE so index builders can gate on
    quantization loss before committing to the compressed layout.

    Physical plan: ONE posexplode feeds both the (dims x 2) range
    dimension (broadcast back) and the coding join; codes re-assemble
    with a dim-sorted collect per vector. No driver collect — the range
    table stays a DataFrame, so the identical explode+join shape runs on
    any engine (the DuckDB twin mirrors it; a literal-array transform
    would need a driver round-trip and a twin that can't see the data).
    Constant dimensions (hi == lo) encode to 0 via the nullif guard.

    Output: (id, codes array<int>, mse) — mse rounded 8 dp.
    """
    ex = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim0", "x"),
    ).select("id", (F.col("dim0") + 1).alias("dim"), "x")
    ranges = sq8_ranges(df, vec_col)
    coded = (
        ex.join(F.broadcast(ranges), "dim")
        .withColumn(
            "code",
            F.coalesce(
                F.round(
                    (F.col("x") - F.col("lo"))
                    / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0))
                    * 255.0,
                    0,
                ),
                F.lit(0.0),
            ).cast("int"),
        )
        .withColumn(
            "deq",
            F.col("lo")
            + F.col("code") / 255.0 * (F.col("hi") - F.col("lo")),
        )
    )
    return coded.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "code"))),
            lambda s: s["code"],
        ).alias("codes"),
        F.round(F.avg((F.col("x") - F.col("deq")) ** 2), 8).alias("mse"),
    )


def sq8_ranges(df: DataFrame, vec_col: str) -> DataFrame:
    """The (dim 1-BASED, lo, hi) range dimension :func:`sq8_quantize`
    encodes against — exposed so search can dequantize without
    re-deriving; 1-based to match generate_subscripts and the ADC join
    (a 0/1-base mix here silently shifts every dequantization — caught
    by the oracle diff)."""
    return (
        df.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim0", "x"))
        .select((F.col("dim0") + 1).alias("dim"), "x")
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )


def sq8_adc_topk(
    codes: DataFrame,
    ranges: DataFrame,
    query: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Asymmetric search over SQ8 codes: the corpus scan reads ONLY the
    int8 code column (the 4x point of the layout); each candidate
    dequantizes against the broadcast range dimension and scores L2² to
    the raw query — the SQ counterpart of PQ's ADC.

    ``codes``: (id, codes array<int>); ``query``: (dim 1-based, qx) rows
    (a query vector in long form, so the whole pipeline stays relational
    and the oracle can derive the query from data). Distances round 6 dp,
    ties to the smaller id; top-k via TakeOrderedAndProject.

    Output: (id, dist, rank).
    """
    from pyspark.sql import Window

    ex = codes.select(
        "id", F.posexplode("codes").alias("dim0", "code")
    ).select("id", (F.col("dim0") + 1).alias("dim"), "code")
    deq = F.col("lo") + F.col("code") / 255.0 * (F.col("hi") - F.col("lo"))
    scored = (
        ex.join(F.broadcast(ranges), "dim")
        .join(F.broadcast(query), "dim")
        .groupBy("id")
        .agg(F.round(F.sum((F.col("qx") - deq) ** 2), 6).alias("dist"))
    )
    # top-k FIRST (TakeOrderedAndProject — no corpus-wide single-partition
    # sort), then rank over the k-row frame (the user_skew_profile pattern)
    top = scored.orderBy(F.asc("dist"), F.asc("id")).limit(k)
    w = Window.orderBy(F.asc("dist"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w))


# --------------------------------------------------------------------------
# Binary quantization (sign-bit codes + Hamming shortlist + exact rerank)
# --------------------------------------------------------------------------

#: bits packed per code word. 32 (not 64) so every shifted value stays a
#: POSITIVE int64 on both engines — `1 << 63` wraps negative, and signed
#: wraparound semantics are exactly the kind of cross-engine edge the
#: oracle hash would trip on. A 64-dim vector becomes 2 bigints (16 bytes,
#: a 16x layout below the raw floats and 4x below SQ8).
WORD_BITS = 32


def binary_thresholds(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension MEDIAN threshold table (dim 1-based, mu) that
    :func:`binary_quantize` signs against.

    Median (not mean): (a) it balances each bit to ~50/50, which maximizes
    the entropy of the code — the standard ITQ/median-threshold trick for
    sign-bit hashing; (b) it is an order statistic, so it is reproducible
    across engines (Spark percentile() and DuckDB quantile_cont share the
    type-7 interpolation) — a mean of doubles depends on summation order
    and would flip borderline bits between engines.
    """
    return (
        df.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim0", "x"))
        .select((F.col("dim0") + 1).alias("dim"), "x")
        .groupBy("dim")
        .agg(F.percentile("x", F.lit(0.5)).alias("mu"))
    )


def binary_quantize(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    thresholds: DataFrame | None = None,
) -> DataFrame:
    """Sign-bit binary quantization: component d contributes bit
    ``(d-1) % 32`` of word ``(d-1) // 32`` iff x_d > median_d — the
    1-bit-per-dimension layout (LSH sign codes / RaBitQ-family baseline)
    that closes the quantization ladder below PQ (m bytes) and SQ8
    (D bytes): D/8 bytes per vector.

    Reference capability anchor: the reference brute-forces raw float
    vectors (backend/app/core/vector_store.py:272-299); binary codes are
    the published memory/scan lever for that capability at corpus scale.

    Physical plan: one posexplode, one broadcast join against the 1-row-
    per-dim threshold table, ``bit_or`` partial-aggregated per (id, word)
    — map-side combinable, 16 bytes/vector into the shuffle — then a
    dim-sorted reassembly per id. No driver collect, no UDF.

    Output: (id, words array<bigint>, n_set) — n_set is the code
    popcount, the quantizer's balance diagnostic (median thresholds
    should keep sum(n_set)/N ~ D/2).
    """
    if thresholds is None:
        thresholds = binary_thresholds(df, vec_col)
    ex = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim0", "x"),
    )
    bit = F.when(F.col("x") > F.col("mu"), F.lit(1).cast("long")).otherwise(
        F.lit(0).cast("long")
    )
    # SQL shiftleft: the PySpark wrapper only takes a literal shift, the
    # SQL function takes an expression
    contrib = F.expr(f"shiftleft(_bit, cast((dim - 1) % {WORD_BITS} as int))")
    words = (
        ex.select("id", (F.col("dim0") + 1).alias("dim"), "x")
        .join(F.broadcast(thresholds), "dim")
        .withColumn("_bit", bit)
        .select(
            "id",
            F.floor((F.col("dim") - 1) / WORD_BITS).cast("int").alias("word"),
            contrib.alias("contrib"),
        )
        .groupBy("id", "word")
        .agg(F.bit_or("contrib").alias("w"))
    )
    return words.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("word", "w"))),
            lambda s: s["w"],
        ).alias("words"),
        F.sum(F.bit_count("w")).cast("long").alias("n_set"),
    )


def hamming_topk(
    codes: DataFrame,
    query_words: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Hamming top-k over packed binary codes: distance =
    sum over words of ``bit_count(w XOR qw)`` — pure JVM bit arithmetic
    inside whole-stage codegen; the corpus scan reads ONLY the code
    column (D/8 bytes per row).

    ``codes``: (id, words array<bigint>); ``query_words``: (word 0-based,
    qw) long form, so the query stays relational and the oracle can
    derive it from data. Ties toward the smaller id; top-k via
    TakeOrderedAndProject, then rank over the k-row frame.

    Output: (id, hamming, rank).
    """
    from pyspark.sql import Window

    ex = codes.select("id", F.posexplode("words").alias("word", "w"))
    scored = (
        ex.join(F.broadcast(query_words), "word")
        .groupBy("id")
        .agg(
            F.sum(F.bit_count(F.col("w").bitwiseXOR(F.col("qw"))))
            .cast("long")
            .alias("hamming")
        )
    )
    top = scored.orderBy(F.asc("hamming"), F.asc("id")).limit(k)
    w = Window.orderBy(F.asc("hamming"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w))


def binq_search(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    codes: DataFrame,
    query_words: DataFrame,
    query: DataFrame,
    k: int = 10,
    shortlist: int = 40,
) -> DataFrame:
    """Two-stage binary-quantized search: Hamming shortlist over the
    packed codes (the only corpus-wide scan — D/8 bytes per row), then
    EXACT cosine rerank of the ``shortlist`` survivors against the raw
    vectors. The standard coarse-then-refine recipe: at 100 TB the float
    vectors are touched for only ``shortlist`` rows, fetched by an
    id-equi-join that broadcasts the shortlist.

    ``query``: (dim 1-based, qx) long form of the raw query vector.
    Cosine rounds 6 dp; final ties toward the smaller id.

    Output: (id, hamming, cos, rank) — top ``k`` by cosine.
    """
    from pyspark.sql import Window

    short = hamming_topk(codes, query_words, k=shortlist).drop("rank")
    ex = vectors.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim0", "x"),
    ).select("id", (F.col("dim0") + 1).alias("dim"), "x")
    cand = ex.join(F.broadcast(short), "id")
    qnorm = query.select(F.sqrt(F.sum(F.col("qx") ** 2)).alias("qn"))
    scored = (
        cand.join(F.broadcast(query), "dim")
        .groupBy("id", "hamming")
        .agg(
            (F.sum(F.col("x") * F.col("qx")) / F.sqrt(F.sum(F.col("x") ** 2))).alias(
                "_dot_over_n"
            )
        )
        .join(F.broadcast(qnorm))
        .select(
            "id",
            "hamming",
            F.round(F.col("_dot_over_n") / F.col("qn"), 6).alias("cos"),
        )
    )
    top = scored.orderBy(F.desc("cos"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("cos"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w))


def binary_encode_inline(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    thresholds: "list[float]",
) -> DataFrame:
    """Scan-local binary encode — the 100 TB path. The per-dim threshold
    vector (D floats, KBs) is INLINED into one SQL expression (the
    semdedup/PQ-codebook trick), so encoding is a pure JVM projection:
    zero shuffle, zero Python, embarrassingly parallel. The relational
    :func:`binary_quantize` stays as the oracle-replayable twin that
    derives the thresholds in-plan; equality of the two is unit-tested.

    Output: (id, words array<bigint>).
    """
    d = len(thresholds)
    n_words = (d + WORD_BITS - 1) // WORD_BITS
    words = []
    for j in range(n_words):
        terms = [
            f"(case when cast({vec_col}[{i}] as double) > "
            f"{thresholds[i]!r} then cast({1 << (i % WORD_BITS)} as bigint) "
            f"else cast(0 as bigint) end)"
            for i in range(j * WORD_BITS, min((j + 1) * WORD_BITS, d))
        ]
        words.append(" + ".join(terms))
    expr = "array(" + ", ".join(words) + ")"
    return df.select(F.col(id_col).alias("id"), F.expr(expr).alias("words"))
