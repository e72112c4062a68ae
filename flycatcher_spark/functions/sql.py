"""SQL registration: expose the function library to ``spark.sql``.

Scalar helpers are declared as SQL temporary functions
(``CREATE TEMPORARY FUNCTION … RETURN <expression>``) — Catalyst
inlines the body at every call site, so they cost exactly the same as
the Column-API versions (no Python worker, no serialization); they are
NOT Python UDFs. The chunker is a Python UDTF (table functions can't
be expressed as SQL expressions).

All names carry an ``fc_`` prefix to avoid shadowing builtins.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# name -> (signature, return type, SQL body). Bodies mirror the
# Column-API formulas in operators/text.py and operators/similarity.py.
_SCALARS: dict[str, tuple[str, str, str]] = {
    "fc_tokens": (
        "s STRING",
        "ARRAY<STRING>",
        r"""CASE WHEN length(regexp_replace(s, '^\\s+|\\s+$', '')) = 0
                 THEN CAST(array() AS ARRAY<STRING>)
                 ELSE split(regexp_replace(s, '^\\s+|\\s+$', ''), '\\s+')
            END""",
    ),
    "fc_tok_count": (
        "s STRING",
        "BIGINT",
        r"""CAST(CASE WHEN length(regexp_replace(s, '^\\s+|\\s+$', '')) = 0 THEN 0
                 ELSE size(split(regexp_replace(s, '^\\s+|\\s+$', ''), '\\s+'))
            END AS BIGINT)""",
    ),
    "fc_char_count": ("s STRING", "BIGINT", "CAST(length(s) AS BIGINT)"),
    "fc_digit_ratio": (
        "s STRING",
        "DOUBLE",
        r"""CASE WHEN length(s) = 0 THEN 0.0D
                 ELSE CAST(length(s) - length(regexp_replace(s, '[0-9]', '')) AS DOUBLE)
                      / length(s) END""",
    ),
    "fc_punct_ratio": (
        "s STRING",
        "DOUBLE",
        r"""CASE WHEN length(s) = 0 THEN 0.0D
                 ELSE CAST(length(s)
                           - length(regexp_replace(s, '[^0-9A-Za-z_\\s]', ''))
                           AS DOUBLE)
                      / length(s) END""",
    ),
    "fc_norm_text": (
        "s STRING",
        "STRING",
        r"regexp_replace(regexp_replace(lower(s), '^\\s+|\\s+$', ''), '\\s+', ' ')",
    ),
    "fc_fingerprint": (
        "s STRING",
        "STRING",
        r"md5(regexp_replace(regexp_replace(lower(s), '^\\s+|\\s+$', ''), "
        r"'\\s+', ' '))",
    ),
    "fc_dot": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "DOUBLE",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)",
    ),
    "fc_l2norm": (
        "a ARRAY<DOUBLE>",
        "DOUBLE",
        "sqrt(aggregate(a, 0.0D, (acc, v) -> acc + v * v))",
    ),
    "fc_cosine": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
        "DOUBLE",
        """CASE WHEN sqrt(aggregate(a, 0.0D, (acc, v) -> acc + v * v))
                   * sqrt(aggregate(b, 0.0D, (acc, v) -> acc + v * v)) > 0
                THEN aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D,
                               (acc, v) -> acc + v)
                     / (sqrt(aggregate(a, 0.0D, (acc, v) -> acc + v * v))
                        * sqrt(aggregate(b, 0.0D, (acc, v) -> acc + v * v)))
           END""",
    ),
}


def register_sql(spark: SparkSession) -> list[str]:
    """Register every library function for SQL use; returns the names.

    Scalars become inlined Catalyst expressions; ``chunk_text`` is a
    Python UDTF usable in FROM / LATERAL position.
    """
    names = []
    for name, (sig, ret, body) in _SCALARS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sig}) "
            f"RETURNS {ret} RETURN {body}"
        )
        names.append(name)

    from .chunk import ChunkTokens

    spark.udtf.register("chunk_text", ChunkTokens)
    names.append("chunk_text")
    return names
