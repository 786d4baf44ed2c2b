"""BM25 sparse retrieval as a relational subplan — SURVEY.md §4.3(2).

The reference keeps a pickled in-memory ``BM25Okapi`` index rebuilt from
scratch on every ingest (backend/app/core/embeddings.py:162-232,
vector_store.py:195-209). The engine re-expresses the index as three derived
DataFrames:

    postings(term, doc_id, tf)      — explode + groupBy
    doc_stats(doc_id, dl)           — tokens per doc
    corpus_stats(n_docs, avgdl)     — 1 row, broadcast

Scoring a query is then: query terms ⨝ postings ⨝ df-per-term, with the
rank_bm25-compatible Okapi formula (k1 = 1.5, b = 0.75):

    idf(t)  = ln((N - df + 0.5)/(df + 0.5) + 1)
    s(d,t)  = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

One renderer, ``_okapi_sql``, writes the formula as SQL text for all three
entry points. ``bm25_topk`` (the hybrid search arm) scores the query's
tokens minus ``STOPWORDS``; ``bm25_batch`` and ``bm25_scores`` score every
query token. All three count a repeated term once per occurrence.

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
from vectordb_bioinsight_spark.functions.text import tokenize_spark_sql

K1_DEFAULT = 1.5
B_DEFAULT = 0.75


def build_postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """postings(doc_id, term, tf) from a document table."""
    df, idq, (textq,) = sql_inputs(df, id_col, text_col)
    return (
        df.selectExpr(f"{idq} AS doc_id", f"explode({tokenize_spark_sql(textq)}) AS term")
        .groupBy("doc_id", "term")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS tf"))
    )


def doc_lengths(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """doc_stats(doc_id, dl) — token count per doc (post-tokenizer)."""
    df, idq, (textq,) = sql_inputs(df, id_col, text_col)
    return df.selectExpr(f"{idq} AS doc_id", f"CAST(size({tokenize_spark_sql(textq)}) AS BIGINT) AS dl")


def bm25_scores(postings: DataFrame, doc_stats: DataFrame, query_terms: list[str]) -> DataFrame:
    """Score every doc containing >= 1 query term. Output (doc_id, score).

    All statistics (N, avgdl, df) are computed from the inputs — the operator
    is a pure function of its tables, so the same call works on a streamed-in
    incremental corpus. Every given term is scored (no stopword filter), once
    per occurrence; token-less documents carry no corpus mass.
    """
    q_terms = postings.sparkSession.createDataFrame(
        [(t, float(n)) for t, n in Counter(query_terms).items()], "term string, qtf double"
    )
    return _okapi(postings, doc_stats, q_terms, [])


#: corpus statistics over a per-document table with a ``dl`` column
_CORPUS_STATS = ["CAST(count(*) AS DOUBLE) AS n_docs", "avg(dl) AS avgdl"]


def _okapi_sql(tf: str, df: str, qtf: str | None = None) -> str:
    """SQL text of one query term's Okapi score (times ``qtf`` when given)
    from its columns ``tf`` and ``df`` and the columns ``n_docs``, ``avgdl``
    and ``dl``. The operand order (``qtf * idf``, ``dl * b``) is part of the
    contract: the rounded scores the DuckDB oracles check depend on it."""
    idf = f"ln((((n_docs - {df}) + 0.5D) / ({df} + 0.5D)) + 1.0D)"
    if qtf is not None:
        idf = f"({qtf} * {idf})"
    norm = (
        f"((((dl * {sql_double(B_DEFAULT)}) / avgdl) + {sql_double(1.0 - B_DEFAULT)})"
        f" * {sql_double(K1_DEFAULT)})"
    )
    return f"(({idf} * ({tf} * {sql_double(K1_DEFAULT + 1.0)})) / ({tf} + {norm}))"


def _okapi(postings: DataFrame, doc_stats: DataFrame, q_terms: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, doc_id, score) from postings(doc_id, term, tf), doc_stats(doc_id,
    dl) and query terms (*keys, term, qtf): the Okapi formula summed per query
    term occurrence. Documents with dl = 0 are left out of N and avgdl."""
    corpus = doc_stats.filter("dl > 0").selectExpr(*_CORPUS_STATS)
    term_df = (
        postings.join(F.broadcast(q_terms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.expr("CAST(count(DISTINCT doc_id) AS DOUBLE) AS df"))
    )
    return (
        postings.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(term_df), "term")
        .join(doc_stats, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .selectExpr("doc_id", *keys, f"{_okapi_sql('tf', 'df', 'qtf')} AS _ts")
        .groupBy(*keys, "doc_id")
        .agg(F.expr("round(sum(_ts), 6) AS score"))
    )


def bm25_topk(
    documents: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
) -> DataFrame:
    """End-to-end BM25 search over a raw document table (tokenize + score +
    top-k). Query terms are the query's tokens minus ``STOPWORDS``.
    Tie-break on doc_id for a total order (hash-stable top-k).

    Physical plan: ONE tokenize scan → ONE groupBy(doc) computing dl and
    per-query-term tf as conditional aggregates (query terms are literals, so
    no postings join at all) → 1-row corpus-stats aggregate, broadcast →
    score expression → TakeOrdered. The executed plan shuffles three times:
    the map-side-combined ``doc_id`` hash exchange, the single-partition
    exchange of the stats aggregate (then its broadcast) and the top-k's
    single-partition shuffle. The ``doc_id`` exchange is planned under both
    consumers of the per-doc table (the score join and the stats
    aggregate). Over a parquet scan the second one runs as a
    ``ReusedExchange``; over a cached input (the search service's case) AQE
    runs two ShuffleQueryStages, each a tokenize ``Generate`` over its own
    TableCacheQueryStage, so the tokenize and partial aggregate run twice,
    concurrently.

    Every expression is rendered as SQL text and parsed once per clause.
    Query terms are ``[a-z0-9]+`` (``_tokenize_py``), so they are safe as
    SQL string literals.
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
    # ONE tiny aggregate over the per-doc table: corpus stats + per-term df
    # (a token-less document has no row here, so it carries no mass).
    stats = per_doc.selectExpr(
        *_CORPUS_STATS,
        *[f"CAST(sum(CASE WHEN {c} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS _df_{i}" for i, c in enumerate(tf)],
    )
    # explicit left-nested parentheses: the SQL parser balances a flat
    # OR chain, the Column API nests it to the left
    any_hit = reduce(lambda acc, c: f"({acc} OR ({c} > 0))", tf[1:], f"({tf[0]} > 0)")
    scored = per_doc.filter(any_hit).crossJoin(F.broadcast(stats))
    total = " + ".join(
        f"CASE WHEN ({c} > 0) THEN {_okapi_sql(c, f'_df_{i}')} ELSE 0.0D END" for i, c in enumerate(tf)
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
) -> DataFrame:
    """Score MANY queries in ONE plan — the scale path for per-gene retrieval
    loops (SURVEY M14: the reference loops vector_store.search per gene,
    gene_interpreter.py:157-436; at 10⁴ queries that is 10⁴ sequential jobs,
    here it is one postings join).

    Every query token is a query term (no stopword filter), and terms keep
    their multiplicity (rank_bm25 sums per query-term occurrence,
    embeddings.py:234-259). Output: (query_id, doc_id, score, rank) — top-k
    per query, rank by (score desc, doc_id).
    """
    queries, qidq, (qtextq,) = sql_inputs(queries, query_id_col, query_text_col)
    q_terms = (
        queries.selectExpr(f"{qidq} AS query_id", f"explode({tokenize_spark_sql(qtextq)}) AS term")
        .groupBy("query_id", "term")
        .agg(F.expr("CAST(count(*) AS DOUBLE) AS qtf"))
    )
    scored = _okapi(
        build_postings(documents, id_col, text_col),
        doc_lengths(documents, id_col, text_col),
        q_terms,
        ["query_id"],
    )
    return scored.selectExpr(
        "*", "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank"
    ).filter(f"rank <= {int(k)}")


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
