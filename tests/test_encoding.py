"""Dictionary build / encode / factorize vs exact oracles."""

import math

import numpy as np
from pyspark.sql import functions as F

from scardina_spark.functions import (
    build_dictionary, encode_with_dictionary, factorization_spec)
from scardina_spark.functions.dictionary import CODE, VALUE
from scardina_spark.functions.factorize import sub_code_expr, sub_codes


def test_dictionary_sorted_dense_codes(tables, duck):
    dic = build_dictionary(tables["lineitem"], "l_returnflag")
    rows = sorted(dic.collect(), key=lambda r: r[CODE])
    vals = [r[VALUE] for r in rows]
    want = [v for (v,) in duck.sql(
        "select distinct l_returnflag from lineitem "
        "where l_returnflag is not null order by 1").fetchall()]
    assert vals == want
    assert [r[CODE] for r in rows] == list(range(2, 2 + len(want)))


def test_dictionary_numeric_order_preserved(tables, duck):
    dic = build_dictionary(tables["lineitem"], "l_quantity")
    rows = sorted(dic.collect(), key=lambda r: r[CODE])
    vals = [r[VALUE] for r in rows]
    assert vals == sorted(vals)  # code order == value order


def test_encode_roundtrip_and_null_handling(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "c"), (5, "a")], ["id", "v"])
    dic = build_dictionary(df, "v")
    enc = encode_with_dictionary(df, "v", dic)
    got = {r["id"]: r["v"] for r in enc.collect()}
    # sorted distinct: a=2, b=3, c=4; NULL -> 1
    assert got == {1: 2, 2: 3, 3: 1, 4: 4, 5: 2}


def test_encode_out_of_domain_maps_to_null_code(spark):
    base = spark.createDataFrame([("a",), ("b",)], ["v"])
    dic = build_dictionary(base, "v")
    other = spark.createDataFrame([("a",), ("z",)], ["v"])
    enc = encode_with_dictionary(other, "v", dic)
    codes = sorted(r["v"] for r in enc.collect())
    assert codes == [1, 2]  # z is OOD -> NULL code


def test_encode_table_all_int(tables):
    li = tables["lineitem"].select("l_returnflag", "l_linestatus", "l_quantity")
    enc = li
    sizes = {}
    for c in li.columns:
        dic = build_dictionary(li, c)
        sizes[c] = dic.count() + 2  # + the MASK and NULL slots
        enc = encode_with_dictionary(enc, c, dic)
    assert [f.dataType.simpleString() for f in enc.schema.fields] == ["int"] * 3
    for c in li.columns:
        mx = enc.agg(F.max(f"`{c}`")).collect()[0][0]
        mn = enc.agg(F.min(f"`{c}`")).collect()[0][0]
        assert 2 <= mn and mx == sizes[c] - 1  # dense codes reach dist_size-1


def test_factorization_spec_windows():
    # dist_size 70000 -> bits=17, threshold 16 -> 2 subcols, widths 9+8
    spec = factorization_spec("c", 70000, 16)
    assert spec.is_factorized
    assert len(spec.sub_cols) == 2
    assert sum(s.window for s in spec.sub_cols) == 17
    assert spec.sub_cols[0].window >= spec.sub_cols[1].window
    assert spec.sub_cols[0].offset == 0  # little-endian


def test_factorize_roundtrip(spark):
    spec = factorization_spec("code", 70000, 8)
    codes = [1, 2, 255, 256, 69999]
    df = spark.createDataFrame([(i,) for i in codes], ["code"])
    out = df.select("code", *[sub_code_expr("code", sub).alias(sub.name)
                              for sub in spec.sub_cols]).orderBy("code")
    rows = out.collect()
    for r in rows:
        code = r["code"]
        rebuilt = 0
        for sub in spec.sub_cols:
            rebuilt |= (r[sub.name] - 1) << sub.offset
        assert rebuilt == code
        for sub in spec.sub_cols:
            assert 1 <= r[sub.name] <= sub.dist_size - 1
    # the NumPy split the model side uses equals the Spark projection
    arr = np.array(codes, dtype=np.int64)
    for sub in spec.sub_cols:
        assert sub_codes(arr, sub).tolist() == [r[sub.name] for r in rows]
    # fact_upper projects the max code
    top = spec.sub_cols[-1]
    assert top.upper == ((69999 >> top.offset) & (2 ** top.window - 1)) + 1


def test_not_factorized_below_threshold():
    spec = factorization_spec("c", 1000, 16)
    assert not spec.is_factorized
