"""local_frame: driver rows -> an Arrow-built LocalRelation with exactly
the given schema and values."""

import struct

from pyspark.sql import Row
from pyspark.sql import types as T

from vanna_financial_knowledge_graph_spark.functions.embedding import embed_text
from vanna_financial_knowledge_graph_spark.session import local_frame

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("n", T.LongType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("emb", T.ArrayType(T.FloatType(), True), True),
    ]
)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_frame_schema_values_and_plan(spark):
    rows = [
        ("a", 1, 0.5, [0.25, -1.0]),
        Row(id="b", n=None, score=None, emb=None),
        ("c", 2**40, -3.75, []),
    ]
    df = local_frame(spark, rows, SCHEMA)
    assert df.schema == SCHEMA  # names, types and nullability
    assert [tuple(r) for r in df.collect()] == [
        ("a", 1, 0.5, [0.25, -1.0]),
        ("b", None, None, None),
        ("c", 2**40, -3.75, []),
    ]
    p = _optimized(df)
    assert p.startswith("LocalRelation") and "LogicalRDD" not in p, p


def test_local_frame_empty_and_ddl(spark):
    df = local_frame(spark, [], SCHEMA)
    assert df.schema == SCHEMA and df.collect() == []
    ddl = local_frame(spark, [("x", 1)], "k string, v int")
    assert ddl.schema == T.StructType.fromDDL("k string, v int")
    assert ddl.collect() == [Row(k="x", v=1)]


def test_local_frame_float_arrays_bit_exact(spark):
    """array<float> values arrive as the float32 of each input: the same
    bits as the pickled createDataFrame path, and the query vectors of
    embed_text (already float32 values) unchanged."""
    vecs = [
        embed_text("quarterly earnings beat estimates"),
        [0.1, 1 / 3, -2.5e-8, 3.4e38, float("inf")],
    ]
    rows = [(f"v{i}", v) for i, v in enumerate(vecs)]
    schema = "id string, emb array<float>"
    got = [r["emb"] for r in local_frame(spark, rows, schema).orderBy("id").collect()]
    ref = [r["emb"] for r in spark.createDataFrame(rows, schema).orderBy("id").collect()]

    def bits(v):
        return struct.pack(f"{len(v)}f", *v)

    assert [bits(v) for v in got] == [bits(v) for v in ref] == [bits(v) for v in vecs]
    assert got[0] == vecs[0]
