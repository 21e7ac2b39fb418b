"""``operators.seam.map_rows``: the one row seam behind the codec and
media roundtrips. Pins the contract its callers rely on: one ``fn``
call per input row across batch and partition boundaries, plain
Python inputs (``int``/``bytes``/``str``/``None``), and output columns
placed by schema name, never by dict key order."""

from __future__ import annotations

from precios_nexo_sperant_etl_spark.operators.seam import map_rows

_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _row_fn():
    # built inside a function so cloudpickle ships it by value (the
    # test module is not importable on the Python workers)
    def fn(row: dict) -> dict:
        did = row["doc_id"]
        return {"doc_id": did, "sq": did * did,
                "tag": f"{row['text']}-{did % 3}"}
    return fn


def test_many_batches_per_partition_match_plain_map(spark):
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(40)], "doc_id long, text string"
    ).repartition(3)
    old = spark.conf.get(_BATCH_CONF)
    spark.conf.set(_BATCH_CONF, "4")
    try:
        def sizes(it):
            import pandas as pd
            for pdf in it:
                yield pd.DataFrame({"n": [len(pdf)]})

        batch_sizes = [r["n"] for r in
                       df.mapInPandas(sizes, "n long").collect()]
        out = map_rows(df, _row_fn(),
                       "doc_id long, sq long, tag string").collect()
    finally:
        spark.conf.set(_BATCH_CONF, old)
    # the setting really split each partition into several batches
    assert len(batch_sizes) > 3 and max(batch_sizes) <= 4
    expected = sorted(tuple(_row_fn()(r.asDict()).values())
                      for r in df.collect())
    assert sorted(tuple(r) for r in out) == expected


def test_empty_input_and_empty_partitions(spark):
    schema = "doc_id long, sq long, tag string"
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = map_rows(empty, _row_fn(), schema)
    assert out.columns == ["doc_id", "sq", "tag"]
    assert out.collect() == []

    # 2 rows over 8 partitions: most partitions are empty
    sparse = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string").repartition(8)
    rows = map_rows(sparse, _row_fn(), schema).collect()
    assert sorted(tuple(r) for r in rows) == [(1, 1, "a-1"), (2, 4, "b-2")]

    # a filter that empties every batch still yields a well-typed frame
    none = map_rows(sparse.where("doc_id > 9"), _row_fn(), schema)
    assert none.collect() == []


def test_inputs_arrive_as_plain_python_values(spark):
    df = spark.createDataFrame(
        [(1, b"\x00\xff", "x"), (None, None, None), (3, b"", "z")],
        "doc_id long, payload binary, text string").coalesce(1)

    def types(row):
        return {"doc_id": row["doc_id"],
                "id_type": type(row["doc_id"]).__name__,
                "payload_type": type(row["payload"]).__name__,
                "text_type": type(row["text"]).__name__,
                "payload_len": (None if row["payload"] is None
                                else len(row["payload"]))}

    out = {(r["doc_id"] if r["doc_id"] is not None else -1): r
           for r in map_rows(df, types,
                             "doc_id long, id_type string,"
                             " payload_type string, text_type string,"
                             " payload_len long").collect()}
    assert (out[1]["id_type"], out[1]["payload_type"],
            out[1]["text_type"]) == ("int", "bytes", "str")
    assert out[1]["payload_len"] == 2 and out[3]["payload_len"] == 0
    # NULL arrives as None in every column type — also in the long
    # column, which pandas alone would turn into a float NaN
    assert out[-1]["doc_id"] is None
    assert (out[-1]["id_type"], out[-1]["payload_type"],
            out[-1]["text_type"]) == ("NoneType",) * 3
    assert out[-1]["payload_len"] is None


def test_output_columns_follow_schema_not_dict_order(spark):
    df = spark.createDataFrame([(5, "q")], "doc_id long, text string")

    def backwards(row):
        return {"tag": row["text"] * 2, "sq": 25, "doc_id": row["doc_id"]}

    out = map_rows(df, backwards, "doc_id long, sq long, tag string")
    assert out.columns == ["doc_id", "sq", "tag"]
    assert [tuple(r) for r in out.collect()] == [(5, 25, "qq")]
