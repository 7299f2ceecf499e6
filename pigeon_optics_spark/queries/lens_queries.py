"""Lens-engine queries for the correctness gate (SURVEY §2.4/§2.5).

Each query bootstraps datasets from the driver's TPC-H parquet into a
DatasetStore (once per process per sf_dir), runs a real lens build through the
full engine (mapInPandas map → cache → shuffle-fold reduce → store write), and
returns the lens output as a typed DataFrame the DuckDB oracle can reproduce:

- ``lens_invert_part_types`` — the reference's golden inverted-index shape
  (Set-union reduce ⇒ collect_set idiom) over part.p_type words;
- ``lens_sum_qty_by_partkey`` — numbers-add reduce ⇒ SUM idiom (FIXTURES F6);
- ``lens_count_orders_by_status`` — output(k, 1) ⇒ COUNT idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lens import build_lens, create_lens
from ..store import DatasetStore
from . import register
from ._util import load, tracked_mkdtemp

_STORES: dict[str, DatasetStore] = {}
_BUILT: set[tuple[str, str]] = set()

INVERT_CODE = """\
for word in data['p_type'].split(' '):
    output(word, Set([path.recordID]))
"""

SUM_CODE = "output(str(int(data['l_partkey'])), data['l_quantity'])"

COUNT_CODE = "output(data['o_orderstatus'], 1)"


def _store_for(spark: SparkSession, sf_dir: str) -> DatasetStore:
    if sf_dir in _STORES:
        return _STORES[sf_dir]
    root = tracked_mkdtemp("po_lens_store_")
    store = DatasetStore(root)
    _STORES[sf_dir] = store
    return store


def _ensure(spark: SparkSession, sf_dir: str, dataset: str, lens: str,
            code: str, src_df) -> DatasetStore:
    store = _store_for(spark, sf_dir)
    key = (sf_dir, lens)
    if key in _BUILT:
        return store
    if not store.exists("tpch", dataset):
        store.create("tpch", dataset)
        # fixture batches are keyed by the table's primary key — unique
        # by construction, skip the write's dup-detection aggregation
        store.write_entries_df(spark, "tpch", dataset, src_df,
                               assume_unique_ids=True)
    create_lens(store, "tpch", lens, inputs=[f"/datasets/tpch:{dataset}"], code=code)
    build_lens(spark, store, "tpch", lens)
    _BUILT.add(key)
    return store


def lens_invert_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("string").alias("record_id"),
        F.to_json(F.struct("p_type")).alias("value"),
    )
    store = _ensure(spark, sf_dir, "part", "part-type-index", INVERT_CODE, src)
    out = store.read_df(spark, "tpch", "part-type-index", source="lenses")
    # The gate's canonicalizer sorts result columns with pandas, which cannot
    # hash list cells — surface the Set as a canonical comma-joined string.
    return out.select(
        F.col("record_id").alias("word"),
        F.concat_ws(
            ",",
            F.sort_array(
                F.from_json("value", "struct<type:string,data:array<string>>").getField("data")
            ),
        ).alias("part_ids"),
    )


_INVERT_ORACLE = """
SELECT word,
       array_to_string(list_sort(list(DISTINCT CAST(p_partkey AS VARCHAR))), ',')
         AS part_ids
FROM (SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word FROM part)
GROUP BY word
"""

register("lens_invert_part_types", lens_invert_part_types, _INVERT_ORACLE)


def lens_sum_qty_by_partkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    # disambiguate with a deterministic row_number so every source row
    # becomes one record
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    src = li.withColumn("_rn", F.row_number().over(w)).select(
        F.concat_ws("-", F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                    F.col("_rn").cast("string")).alias("record_id"),
        F.to_json(F.struct("l_partkey", "l_quantity")).alias("value"),
    )
    store = _ensure(spark, sf_dir, "lineitem", "qty-by-part", SUM_CODE, src)
    out = store.read_df(spark, "tpch", "qty-by-part", source="lenses")
    return out.select(
        F.col("record_id").alias("partkey"),
        F.col("value").cast("double").alias("total_qty"),
    )


_SUM_ORACLE = """
SELECT CAST(l_partkey AS VARCHAR) AS partkey, SUM(l_quantity) AS total_qty
FROM lineitem GROUP BY 1
"""

register("lens_sum_qty_by_partkey", lens_sum_qty_by_partkey, _SUM_ORACLE)


def lens_count_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("record_id"),
        F.to_json(F.struct("o_orderstatus")).alias("value"),
    )
    store = _ensure(spark, sf_dir, "orders", "orders-by-status", COUNT_CODE, src)
    out = store.read_df(spark, "tpch", "orders-by-status", source="lenses")
    return out.select(
        F.col("record_id").alias("status"),
        F.col("value").cast("long").alias("n_orders"),
    )


_COUNT_ORACLE = """
SELECT o_orderstatus AS status, COUNT(*) AS n_orders
FROM orders GROUP BY o_orderstatus
"""

register("lens_count_orders_by_status", lens_count_orders_by_status, _COUNT_ORACLE)


STATS_CODE = (
    'output(data["o_orderstatus"], {"n": 1, "total": data["o_totalprice"], '
    '"last_priority": data["o_orderpriority"]})'
)


def lens_object_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recursive OBJECT-merge reduce idiom end-to-end (ref
    test/test-utility-reduce.js object rules): each record emits a dict —
    ints add (count), floats add in the deterministic fold order (sum), and
    strings last-win (the final record's priority).  The oracle reproduces
    the float sum with a list_reduce over the SAME natural record order and
    the last-wins with arg_max — this is the cross-engine proof that the
    fold order contract (input_idx, natural(record_id), emit_idx) holds.
    """
    src = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("record_id"),
        F.to_json(F.struct("o_orderstatus", "o_totalprice",
                           "o_orderpriority")).alias("value"),
    )
    # distinct dataset name: lens_count_orders_by_status ingests "orders"
    # with status-only values in the same process-wide store — sharing it
    # would leave this lens's records without o_totalprice
    store = _ensure(spark, sf_dir, "orders-full", "order-stats", STATS_CODE, src)
    out = store.read_df(spark, "tpch", "order-stats", source="lenses")
    parsed = F.from_json(
        "value", "struct<n:bigint,total:double,last_priority:string>")
    return out.select(
        F.col("record_id").alias("status"),
        parsed.getField("n").alias("n"),
        parsed.getField("total").alias("total"),
        parsed.getField("last_priority").alias("last_priority"),
    )


_OBJ_MERGE_ORACLE = """
SELECT o_orderstatus AS status,
       COUNT(*) AS n,
       list_reduce(list(o_totalprice ORDER BY o_orderkey),
                   (acc, v) -> acc + v) AS total,
       arg_max(o_orderpriority, o_orderkey) AS last_priority
FROM orders GROUP BY o_orderstatus
"""

register("lens_object_merge_stats", lens_object_merge_stats, _OBJ_MERGE_ORACLE)


ERRLOG_CODE = """\
did = int(data['doc_id'])
if did % 7 == 0:
    raise ValueError('bad doc ' + str(did))
if did % 5 == 0:
    log('seen', did)
output(str(did), 1)
"""


def lens_error_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-input log/error capture through the REAL lens build (SURVEY
    §2.5, ref javascript-lens-worker.js:67-95 capture + lens.js:87-92
    browsable logs): a lens that raises for doc_id % 7 == 0 and logs for
    doc_id % 5 == 0 is built over documents, then the compute cache's
    captured (logs, errors) rows are surfaced via ``lens_logs``.  The
    oracle reconstructs every captured field — message text, error TYPE,
    and the user-code LINE NUMBER (the raise sits on line 3 of the lens
    source) — from pure doc_id arithmetic, so capture semantics (raise
    preempts the log on line 4; multiples of 35 produce the error only)
    get driver-side evidence instead of pytest-only coverage."""
    src = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("record_id"),
        F.to_json(F.struct("doc_id")).alias("value"))
    store = _ensure(spark, sf_dir, "docs-err", "err-capture", ERRLOG_CODE, src)
    from ..lens import lens_logs

    lg = lens_logs(spark, store, "tpch", "err-capture")
    # try_element_at: plain element_at throws under ANSI on empty arrays
    first_err = F.try_element_at("errors", F.lit(1))
    return lg.select(
        "input_path",
        F.size("logs").alias("n_logs"),
        F.try_element_at("logs", F.lit(1)).alias("first_log"),
        F.size("errors").alias("n_errors"),
        first_err.getField("type").alias("err_type"),
        first_err.getField("message").alias("err_message"),
        first_err.getField("line").alias("err_line"))


_ERRLOG_ORACLE = """
SELECT '/datasets/tpch:docs-err/records/' || CAST(doc_id AS VARCHAR)
         AS input_path,
       CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 = 0 THEN 1 ELSE 0 END
         AS n_logs,
       CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 = 0
            THEN 'seen ' || CAST(doc_id AS VARCHAR) END AS first_log,
       CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS n_errors,
       CASE WHEN doc_id % 7 = 0 THEN 'ValueError' END AS err_type,
       CASE WHEN doc_id % 7 = 0
            THEN 'bad doc ' || CAST(doc_id AS VARCHAR) END AS err_message,
       CASE WHEN doc_id % 7 = 0 THEN 3 END AS err_line
FROM documents
"""

register("lens_error_capture", lens_error_capture, _ERRLOG_ORACLE)


MARKUP_CODE = """\
title = Markup.select(data, 'title')[0]
body = Markup.select(data, 'body')[0]
lang = Markup.get.attribute(data, 'lang')
output(lang, {"n": 1, "chars": len(Markup.get.text(body)),
              "sample": Markup.get.text(title)})
"""


def lens_markup_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The in-sandbox ``Markup`` toolkit (SURVEY §2.5, ref
    workers/environment.js/markup.js) under DRIVER evidence — previously
    pytest-only: records are JsonML trees
    ``["doc", {"lang": ...}, ["title", {}, "T<id>"], ["body", {}, text]]``
    and the lens CSS-selects title/body and reads the lang attribute, so
    a selector/getter defect changes the aggregate.  The reduce exercises
    the object-merge rules end-to-end on the extraction results: counts
    add, char totals add, the title string last-wins in natural record
    order (= max doc_id — the fold-order contract again, now through
    Markup-derived values)."""
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    esc = F.expr(
        "substring(to_json(array(text)), 2,"
        " length(to_json(array(text))) - 2)")
    src = docs.select(
        F.col("doc_id").cast("string").alias("record_id"),
        F.concat(
            F.lit('["doc",{"lang":"'), F.col("lang"),
            F.lit('"},["title",{},"T'), F.col("doc_id").cast("string"),
            F.lit('"],["body",{},'), esc, F.lit("]]")).alias("value"))
    store = _ensure(spark, sf_dir, "jsonml-docs", "markup-extract",
                    MARKUP_CODE, src)
    out = store.read_df(spark, "tpch", "markup-extract", source="lenses")
    parsed = F.from_json(
        "value", "struct<n:long,chars:long,sample:string>")
    return out.select(
        F.col("record_id").alias("lang"),
        parsed.getField("n").alias("n_docs"),
        parsed.getField("chars").alias("total_chars"),
        parsed.getField("sample").alias("last_title"))


_MARKUP_ORACLE = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       'T' || CAST(MAX(doc_id) AS VARCHAR) AS last_title
FROM documents WHERE doc_id <= 300
GROUP BY lang
"""

register("lens_markup_extract", lens_markup_extract, _MARKUP_ORACLE)
