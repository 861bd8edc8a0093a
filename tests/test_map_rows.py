"""``operators.map_rows`` — the one per-row Arrow kernel helper — against a
plain-Python reference."""

import pyspark.sql.functions as F

from b_pdf_parser_spark.operators import map_rows

OUT_DDL = "k bigint, j int, s string, b binary, n_bytes int, flag boolean, opt bigint"


def test_map_rows_matches_python_reference(spark):
    # nested, so the workers get it by value (tests/ is not importable there)
    def fn(k, s, b):
        # 0, 1 or many output rows per input row; rows with k < 6 (the
        # whole first partition) leave the nullable int and boolean
        # columns None
        reps = (0, 1, len(b) + 2)[k % 3]
        for j in range(reps):
            yield (
                k, j, s, b + b"!", len(b),
                None if k < 6 else k % 2 == 0,
                None if k < 6 else k * 10,
            )

    rows = [
        (k, None if k % 5 == 4 else f"t{k}", bytes(range(k % 4)))
        for k in range(24)
    ]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), "k bigint, s string, b binary"
    ).filter(F.col("k") < 12)  # partitions 2 and 3 are left empty
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")  # several batches per partition
    try:
        out = map_rows(df, fn, OUT_DDL)
        got = [tuple(r) for r in out.collect()]
        empty = map_rows(df.filter(F.lit(False)), fn, OUT_DDL).collect()
    finally:
        spark.conf.set(key, old)

    want = [o for r in rows if r[0] < 12 for o in fn(*r)]
    assert out.schema.simpleString() == (
        "struct<k:bigint,j:int,s:string,b:binary,n_bytes:int,flag:boolean,opt:bigint>"
    )
    assert got == want  # same rows in the same order, input order kept
    assert {len([g for g in got if g[0] == k]) for k in range(12)} == {0, 1, 2, 3, 4, 5}
    assert [g for g in got if g[0] < 6] and all(
        g[5] is None and g[6] is None for g in got if g[0] < 6
    )
    assert empty == []
