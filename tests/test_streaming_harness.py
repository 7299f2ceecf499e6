"""The shared streaming-gate harness (queries/_streaming_util.py) proven
end-to-end: forced multi-batch replay with keyed state continuation, the
doubled-source dedup fixture, the collapse guard failing loudly on a
degenerate run, and session conf restored after every run.  Every
events_stream_* gate runs through this harness."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pigeon_optics_spark.queries._streaming_util import (
    doubled_source,
    read_file_stream,
    run_to_memory,
    scoped_conf,
    sliced_source,
)


@pytest.fixture(scope="module")
def rows_df(spark):
    # 8 users x 40 rows with strictly increasing seq — deterministic
    return spark.range(320).select(
        (F.col("id") % 8).alias("user_id"),
        F.col("id").alias("seq"),
        (F.col("id") * 7 % 101).alias("value"))


def test_sliced_source_forces_ordered_batches_with_state(spark, rows_df):
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = sliced_source(rows_df, F.col("seq"), n_slices=4)
    files = [f for f in __import__("os").listdir(src)
             if f.endswith(".parquet")]
    assert len(files) == 4

    def fold(key, pdfs, state: GroupState):
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    stream = (read_file_stream(spark, src)
              .groupBy("user_id")
              .applyInPandasWithState(
                  fold, outputStructType="user_id long, n long",
                  stateStructType="n long", outputMode="update",
                  timeoutConf=GroupStateTimeout.NoTimeout))
    out = run_to_memory(stream, prefix="po_harness_state",
                        output_mode="update", min_data_batches=4)
    # update-mode emissions: max n per user is the final state; state
    # continued across all four batches => every user counts all 40 rows
    final = {r["user_id"]: r["mx"] for r in
             out.groupBy("user_id").agg(F.max("n").alias("mx")).collect()}
    assert final == {u: 40 for u in range(8)}
    # and at least one intermediate emission proves mid-stream state
    # (a single-batch run would only ever emit n == 40)
    mids = out.where(F.col("n") < 40).count()
    assert mids > 0


def test_doubled_source_dedup(spark, rows_df):
    src = doubled_source(rows_df.select("user_id", "seq"))
    stream = read_file_stream(spark, src).dropDuplicates(["seq"])
    out = run_to_memory(stream, prefix="po_harness_dedup",
                        output_mode="append", min_data_batches=2)
    assert out.count() == 320  # 640 delivered, 320 distinct


def test_collapse_guard_fails_loudly(spark, rows_df):
    src = sliced_source(rows_df, F.col("seq"), n_slices=4)
    # read ALL files per trigger -> one data batch -> the guard must
    # raise, never green a degenerate run
    stream = read_file_stream(spark, src, files_per_trigger=4) \
        .select("user_id", "seq")
    with pytest.raises(AssertionError, match="collapsed"):
        run_to_memory(stream, prefix="po_harness_collapse",
                      output_mode="append", min_data_batches=4)


def test_sliced_source_cache_key_reuses_dir(spark, rows_df):
    a = sliced_source(rows_df, F.col("seq"), cache_key=("t", 1))
    b = sliced_source(rows_df, F.col("seq"), cache_key=("t", 1))
    assert a == b


#: a session conf key with no value set (its session default applies)
_UNSET_KEY = "spark.sql.streaming.stateStore.providerClass"


def test_run_restores_session_conf(spark, rows_df):
    """The 4-partition scope and any key set around a run are undone:
    shuffle partitions return to the session value, and a key that was
    unset before is unset again — after a run, and after a raising
    block."""
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    assert parts != "4"
    assert spark.conf.get(_UNSET_KEY, None) is None
    rocksdb = ("org.apache.spark.sql.execution.streaming.state."
               "RocksDBStateStoreProvider")
    src = sliced_source(rows_df, F.col("seq"), n_slices=4)
    stream = read_file_stream(spark, src).groupBy("user_id").count()
    with scoped_conf(spark, {_UNSET_KEY: rocksdb}):
        run_to_memory(stream, prefix="po_harness_conf",
                      output_mode="complete", min_data_batches=4)
        assert spark.conf.get(_UNSET_KEY) == rocksdb
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert spark.conf.get(_UNSET_KEY, None) is None

    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "3",
                                 _UNSET_KEY: rocksdb}):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert spark.conf.get(_UNSET_KEY, None) is None
