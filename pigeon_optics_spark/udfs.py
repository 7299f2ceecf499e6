"""Arrow-batched pandas UDFs shared across the engine.

NOTE: no ``from __future__ import annotations`` here — PySpark infers pandas
UDF eval types from *live* type hints, stringified annotations break it.
"""

import json

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType

from .values import hash_json_str, hash_urls_in_json


@F.pandas_udf(StringType())
def hash_value_udf(v: pd.Series) -> pd.Series:
    """object_hash over a tagged-JSON value column (canonical sha256)."""
    return v.map(hash_json_str)


@F.pandas_udf(ArrayType(StringType()))
def links_udf(v: pd.Series) -> pd.Series:
    """hash:// attachment URIs referenced by a tagged-JSON value column."""
    return v.map(hash_urls_in_json)


def register_ngrams_udtf(spark):
    """Native Python UDTF surface (SURVEY §2.10): the lens engine covers the
    flatMap *capability* via mapInPandas; this registers the same shape as a
    first-class SQL table function — ``po_ngrams(text, n)`` emits one row
    per character n-gram with its position, usable in LATERAL position
    (``SELECT t.doc_id, g.* FROM docs t, LATERAL po_ngrams(t.text, 5) g``).

    Deterministic and stateless by construction (``asDeterministic()``),
    so Catalyst is free to reorder/prune around it.  Returns the registered
    UDTF for direct DataFrame-API use.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, gram string")
    class PoNgrams:
        def eval(self, text: str, n: int):
            if text is None or n is None or n <= 0:
                return
            for i in range(max(len(text) - n + 1, 0)):
                yield i, text[i:i + n]

    fn = PoNgrams.asDeterministic()
    spark.udtf.register("po_ngrams", fn)
    return fn


def _nfc_md5_one(t):
    import unicodedata

    if t is None:
        return None
    import hashlib

    return hashlib.md5(
        unicodedata.normalize("NFC", t).encode("utf-8")).hexdigest()


@F.pandas_udf(StringType())
def nfc_md5_udf(s: pd.Series) -> pd.Series:
    """md5 of the NFC-normalized string — the Unicode canonical-equivalence
    dedup key (see pipeline.text.nfc_md5_col for semantics and the DuckDB
    ``nfc_normalize`` oracle twin)."""
    return s.map(_nfc_md5_one)


@F.pandas_udf(LongType())
def sum_sq_grouped_udf(v: pd.Series) -> int:
    """Exact integer second moment for the GROUPED_AGG pandas-UDF gate
    (q_pandas_grouped_agg).  Lives here because modules with
    ``from __future__ import annotations`` stringify hints and break
    pandas_udf's signature inference (the documented gotcha).  The
    return type is a DataType OBJECT, not the DDL string "long":
    module-level pandas_udf decorators run when EXECUTORS import this
    module too, and the DDL-string path calls _parse_ddl, which needs an
    active session — none exists on an executor, so a string here kills
    every store/lens executor task repo-wide (hit live: 29 gates + 22
    tests red).  Python ints, not numpy int64 — squares would overflow
    silently (pcm lesson)."""
    return sum(int(x) * int(x) for x in v)


@F.pandas_udf(LongType())
def count_grouped_udf(v: pd.Series) -> int:
    """Row count as a GROUPED_AGG pandas UDF — Spark refuses to mix
    pandas and JVM aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT,
    hit live), so the gate's count rides the same Arrow path."""
    return len(v)
