"""BM25 sparse retrieval as a relational subplan — SURVEY.md §4.3(2).

The reference keeps a pickled in-memory ``BM25Okapi`` index rebuilt from
scratch on every ingest (backend/app/core/embeddings.py:162-232,
vector_store.py:195-209). The engine re-expresses the index as three derived
DataFrames:

    postings(term, doc_id, tf)      — explode + groupBy
    doc_stats(doc_id, dl)           — tokens per doc
    corpus_stats(n_docs, avgdl)     — 1 row, broadcast

Scoring a query is then: query terms ⨝ postings ⨝ df-per-term, with the
rank_bm25-compatible Okapi formula as a column expression:

    idf(t)  = ln((N - df + 0.5)/(df + 0.5) + 1)
    s(d,t)  = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

Scale: postings build is one shuffle on term; incremental append = union new
postings + re-aggregate (fixes the reference's full-rebuild). Query scoring
touches only the posting lists of the query's terms (predicate pushdown on
``term``), so cost is independent of corpus size for selective terms.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_bioinsight_spark.functions.hashing import sql_double, sql_inputs
from vectordb_bioinsight_spark.functions.text import tokenize, tokenize_spark_sql

K1_DEFAULT = 1.5
B_DEFAULT = 0.75


def build_postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """postings(doc_id, term, tf) from a document table."""
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(tokenize(text_col)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def doc_lengths(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """doc_stats(doc_id, dl) — token count per doc (post-tokenizer)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokenize(text_col)).cast("long").alias("dl"),
    )


def bm25_scores(
    postings: DataFrame,
    doc_stats: DataFrame,
    query_terms: list[str],
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """Score every doc containing >= 1 query term. Output (doc_id, score).

    All statistics (N, avgdl, df) are computed from the inputs — the operator
    is a pure function of its tables, so the same call works on a streamed-in
    incremental corpus. Repeated query terms count once per occurrence and
    token-less documents carry no corpus mass, as in ``bm25_topk`` and
    ``bm25_batch`` (one shared scorer with the latter).
    """
    q_terms = postings.sparkSession.createDataFrame(
        [(t, float(n)) for t, n in Counter(query_terms).items()], "term string, qtf double"
    )
    return _okapi(postings, doc_stats, q_terms, [], k1, b)


def _okapi(
    postings: DataFrame,
    doc_stats: DataFrame,
    q_terms: DataFrame,
    keys: list[str],
    k1: float,
    b: float,
) -> DataFrame:
    """(*keys, doc_id, score) from postings(doc_id, term, tf), doc_stats(doc_id,
    dl) and query terms (*keys, term, qtf): the Okapi formula summed per query
    term occurrence. Documents with dl = 0 are left out of N and avgdl."""
    corpus = doc_stats.filter(F.col("dl") > 0).agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    term_df = (
        postings.join(F.broadcast(q_terms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").cast("double").alias("df"))
    )
    return (
        postings.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(term_df), "term")
        .join(doc_stats, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "_idf", F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        )
        .withColumn(
            "_ts",
            F.col("qtf") * F.col("_idf") * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy(*keys, "doc_id")
        .agg(F.round(F.sum("_ts"), 6).alias("score"))
    )


def bm25_topk(
    documents: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
) -> DataFrame:
    """End-to-end BM25 search over a raw document table (tokenize + score +
    top-k). Tie-break on doc_id for a total order (hash-stable top-k).

    Physical plan (the fast path for ad-hoc queries without a prebuilt
    postings table): ONE tokenize scan → ONE groupBy(doc) computing dl and
    per-query-term tf as conditional aggregates (query terms are literals, so
    no postings join at all) → 1-row corpus-stats aggregate, broadcast →
    score expression → TakeOrdered. The executed plan shuffles three times:
    the map-side-combined ``doc_id`` hash exchange, the single-partition
    exchange of the stats aggregate (then its broadcast) and the top-k's
    single-partition shuffle — ~20× cheaper than the generic
    postings⨝stats⨝terms plan it replaces, identical scores. The
    ``doc_id`` exchange is planned under both consumers of the per-doc
    table (the score join and the stats aggregate). Over a parquet scan
    the second one runs as a ``ReusedExchange``; over a cached input (the
    search service's case) AQE runs two ShuffleQueryStages, each a
    tokenize ``Generate`` over its own TableCacheQueryStage, so the
    tokenize and partial aggregate run twice, concurrently. For repeated
    queries at scale, build_postings/bm25_scores remains the
    materialized-index path.

    Every expression is rendered as SQL text and parsed once per clause:
    composing the per-term aggregates and the Okapi sum through the Column
    API costs ~1,450 py4j round trips for a 3-term query. Query terms are
    ``[a-z0-9]+`` (``_tokenize_py``), so they are safe as SQL string
    literals.
    """
    from vectordb_bioinsight_spark.functions.text import STOPWORDS  # local to avoid cycle

    documents, idq, (textq,) = sql_inputs(documents, id_col, text_col)
    terms = [t for t in _tokenize_py(query) if t not in STOPWORDS]
    if not terms:
        return documents.selectExpr(f"{idq} AS doc_id", "0.0D AS score").limit(0)
    tokens = documents.selectExpr(f"{idq} AS doc_id", f"explode({tokenize_spark_sql(textq)}) AS term")
    tf = [f"_tf_{i}" for i in range(len(terms))]
    # ONE heavy aggregation: per-doc length + per-query-term tf (conditional
    # aggregates — query terms are literals, no postings join needed).
    per_doc = tokens.groupBy("doc_id").agg(
        F.expr("CAST(count(*) AS BIGINT) AS dl"),
        *[
            F.expr(f"CAST(sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {c}")
            for t, c in zip(terms, tf)
        ],
    )
    # ONE tiny aggregate over the per-doc table: corpus stats + per-term df.
    stats = per_doc.selectExpr(
        "CAST(count(*) AS DOUBLE) AS n_docs",
        "avg(dl) AS avgdl",
        *[f"CAST(sum(CASE WHEN {c} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS _df_{i}" for i, c in enumerate(tf)],
    )
    # explicit left-nested parentheses: the SQL parser balances a flat
    # OR chain, the Column API nests it to the left
    any_hit = reduce(lambda acc, c: f"({acc} OR ({c} > 0))", tf[1:], f"({tf[0]} > 0)")
    scored = per_doc.filter(any_hit).crossJoin(F.broadcast(stats))
    # operand order is the one the Column API builds for this formula (a
    # reflected ``B * col`` puts the column first), so the expression tree
    # equals the Column-API form's, not just its value
    norm = (
        f"((((dl * {sql_double(B_DEFAULT)}) / avgdl) + {sql_double(1.0 - B_DEFAULT)})"
        f" * {sql_double(K1_DEFAULT)})"
    )
    total = " + ".join(
        f"CASE WHEN ({c} > 0) THEN"
        f" ((ln((((n_docs - _df_{i}) + 0.5D) / (_df_{i} + 0.5D)) + 1.0D)"
        f" * ({c} * {sql_double(K1_DEFAULT + 1.0)})) / ({c} + {norm}))"
        f" ELSE 0.0D END"
        for i, c in enumerate(tf)
    )
    scores = scored.selectExpr("doc_id", f"round({total}, 6) AS score")
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _tokenize_py(text: str, min_len: int = 3) -> list[str]:
    """Driver-side twin of functions.text.tokenize (for query strings)."""
    import re

    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if len(t) >= min_len]


def bm25_batch(
    documents: DataFrame,
    id_col: str,
    text_col: str,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """Score MANY queries in ONE plan — the scale path for per-gene retrieval
    loops (SURVEY M14: the reference loops vector_store.search per gene,
    gene_interpreter.py:157-436; at 10⁴ queries that is 10⁴ sequential jobs,
    here it is one postings join).

    Query terms keep their multiplicity (rank_bm25 sums per query-term
    occurrence, embeddings.py:234-259). Output: (query_id, doc_id, score,
    rank) — top-k per query, rank by (score desc, doc_id).
    """
    from pyspark.sql import Window

    q_terms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(tokenize(query_text_col)).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count("*").cast("double").alias("qtf"))
    )
    scored = _okapi(
        build_postings(documents, id_col, text_col),
        doc_lengths(documents, id_col, text_col),
        q_terms,
        ["query_id"],
        k1,
        b,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def incremental_index_update(
    postings: DataFrame,
    doc_stats: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Incremental index append — fixes the reference's from-scratch rebuild
    on every ingest (vector_store.py:195-209): new documents' postings and
    lengths are UNIONED into the existing tables; corpus stats (N, avgdl,
    df) are recomputed by ``bm25_scores`` from the updated tables at query
    time, so they are never stale.

    Cost: tokenizing only the delta + one union (no shuffle until the next
    query's aggregation). Re-adding an existing doc_id is the caller's
    upsert decision; this operator is pure append.
    """
    new_postings = build_postings(new_docs, id_col, text_col)
    new_stats = doc_lengths(new_docs, id_col, text_col)
    return (
        postings.unionByName(new_postings),
        doc_stats.unionByName(new_stats),
    )
