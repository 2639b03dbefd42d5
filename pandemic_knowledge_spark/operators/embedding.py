"""Feature-hashing text embeddings ("hashing trick", Weinberger et al.
2009): deterministic sparse-to-dense token-count projections.

The embedding generator a training-data pipeline needs BEFORE any model
exists: map each token t to dimension md5(t) mod D with sign
(md5(t) div D) mod 2, sum per document. Pure integer arithmetic from the
engine-portable md5 hash (functions.text.md5_int), so embeddings are
bit-identical in Spark, DuckDB, and at any cluster size — and downstream
ANN / SemDeDup / k-means operators (operators.similarity) can consume them
without a feature-extraction service.

Plan shape: explode tokens → one groupBy(doc_id, dim) shuffle (map-side
combined) → dense assembly via a doc×dim grid left-join, all codegen; no
Python anywhere. At 100 TB the only wide exchange carries (doc_id, dim,
count) rows — bounded by corpus token count, same scale class as the
posting-list build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandemic_knowledge_spark.functions.text import md5_int, md5_int_expr, sql_tokenize, tokenize

DIM = 64  # embedding width; 2^6 keeps the grid join trivial


def hash_embeddings_long(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", dim: int = DIM
) -> DataFrame:
    """Dense LONG form: one (doc_id, dim, v) row per document × dimension.

    The scalar-column shape external harnesses can sort/hash row-wise (an
    ``array<bigint>`` column defeats frame canonicalizers that sort by
    column values); :func:`hash_embeddings` assembles the array form from
    this. Documents with zero tokens embed to the zero vector (they stay
    addressable downstream rather than disappearing)."""
    if dim & (dim - 1):
        raise ValueError("dim must be a power of two (shift-exact sign bit)")
    shift = dim.bit_length() - 1
    from pandemic_knowledge_spark.functions.pinning import pin

    # Tokens pinned (r13): the explode's inferred size > 0 filter re-ran
    # the tokenizer regexp per row through pushdown re-inlining
    # (functions.pinning module docs). The grid side reads ids only.
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    tok = (
        pin(base, toks=tokenize(text_col))
        .select("doc_id", F.explode("toks").alias("term"))
    )
    h = md5_int(F.col("term"))
    # h div dim via shiftright — Column `/` is DOUBLE division and h spans
    # 60 bits (> 2^53), so a float path would corrupt the low bits.
    sums = (
        tok.select(
            "doc_id",
            (h % dim).alias("dim"),
            F.when(F.shiftright(h, shift) % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("sgn"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("sgn").alias("v"))
    )
    grid = base.select("doc_id").crossJoin(
        F.broadcast(
            docs.sparkSession.range(dim).select(F.col("id").cast("long").alias("dim"))
        )
    )
    return grid.join(sums, ["doc_id", "dim"], "left").select(
        "doc_id", "dim", F.coalesce("v", F.lit(0)).alias("v")
    )


def hash_embeddings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", dim: int = DIM
) -> DataFrame:
    """(doc_id, emb) — emb: array<bigint> of signed hashed token counts.

    The library API the ANN / SemDeDup / k-means operators consume; the
    driver-facing catalog query uses :func:`hash_embeddings_long` instead
    (scalar columns survive row-wise canonicalization)."""
    dense = hash_embeddings_long(docs, id_col, text_col, dim)
    ordered = F.array_sort(F.collect_list(F.struct("dim", "v")))
    return dense.groupBy("doc_id").agg(
        F.transform(ordered, lambda x: x["v"]).alias("emb")
    )


def _sql_dense_ctes(table: str, id_col: str, text_col: str, dim: int) -> str:
    """Shared CTE chain ending at ``dense`` (doc_id, dim, v) — the ONE
    definition both SQL emitters build on, so the hash/sign/assembly rules
    cannot fork between the long-form and array-form oracles."""
    h = md5_int_expr("term")
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {sql_tokenize(text_col)} AS t FROM {table}
),
tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
sums AS (
  SELECT doc_id, {h} % {dim} AS dim,
         sum(CASE WHEN ({h} // {dim}) % 2 = 0 THEN 1 ELSE -1 END) AS v
  FROM tok GROUP BY 1, 2
),
grid AS (SELECT doc_id, CAST(u.d AS BIGINT) AS dim
         FROM toks, UNNEST(range({dim})) AS u(d)),
dense AS (
  SELECT g.doc_id, g.dim, CAST(coalesce(s.v, 0) AS BIGINT) AS v
  FROM grid g LEFT JOIN sums s ON g.doc_id = s.doc_id AND g.dim = s.dim
)"""


def sql_hash_embeddings_long(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DIM,
) -> str:
    """DuckDB SQL replaying :func:`hash_embeddings_long` — scalar rows,
    the driver-checkable form."""
    return (
        _sql_dense_ctes(table, id_col, text_col, dim)
        + "\nSELECT doc_id, dim, v FROM dense\n"
    )

