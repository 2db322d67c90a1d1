"""The query-vector kernel (functions/vector.py): one typed array<double>
literal per query vector, |q| folded on the driver, and |a| computed once
per stored row in batched queries. Every result must equal, bit for bit,
the formulation the kernel replaced — a CreateArray of one literal per
component with both norms aggregated per row (per pair after a cross
join). That formulation is kept here as the reference."""

import math
import struct

import numpy as np
import pytest
from pyspark.sql import Column, Window
from pyspark.sql import functions as F

import valentinus_spark.collection as collection_mod
from valentinus_spark.collection import EmbeddingCollection
from valentinus_spark.embed import HashEmbedder
from valentinus_spark.filters import compile_filters
from valentinus_spark.functions.vector import (
    cosine_similarity,
    l2_norm,
    literal_vector,
    vector_norm,
)


# ---- the replaced formulation (reference) --------------------------------


def ref_literal(values):
    return F.array(*[F.lit(float(v)) for v in values])


def _ref_col(v):
    return v if isinstance(v, Column) else ref_literal(v)


def ref_dot(a, b):
    a = F.col(a) if isinstance(a, str) else a
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), _ref_col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _ref_norm(a):
    return F.sqrt(
        F.aggregate(a.cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def ref_cosine(a, b):
    a = F.col(a) if isinstance(a, str) else a
    b = _ref_col(b)
    denom = _ref_norm(a.cast("array<double>")) * _ref_norm(b)
    return F.when(denom > 0, ref_dot(a, b) / denom).otherwise(F.lit(0.0))


def ref_l2(a, b):
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            F.zip_with(a.cast("array<double>"), _ref_col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def ref_query_many(col, probes, num_results, f_where):
    qvs = col.embedder.embed_texts(list(probes))
    queries = col.spark.createDataFrame(
        [(i, [float(x) for x in qvs[i]]) for i in range(len(qvs))],
        "qid int, qvec array<double>",
    )
    base = col.df.filter(compile_filters(f_where, promoted_columns=col.df.columns))
    scored = (
        base.crossJoin(F.broadcast(queries))
        .withColumn("similarity", ref_cosine(col._vec(), F.col("qvec")))
        .filter((F.col("similarity") > 0) & ~F.isnan("similarity"))
        .select("qid", "id", "document", "similarity", "metadata")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("similarity"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= num_results)
        .drop("rank")
        .orderBy("qid", F.desc("similarity"), F.asc("id"))
    )


# ---- helpers --------------------------------------------------------------


def _bits(x):
    return struct.pack("<d", x)


def _rows(df, score):
    """(id, exact score bits) for every row, in the result's order."""
    return [(r["id"], _bits(r[score])) for r in df.collect()]


@pytest.fixture(scope="module")
def coll(spark, tmp_path_factory):
    from valentinus_spark.session import CONF_WAREHOUSE

    old = spark.conf.get(CONF_WAREHOUSE)
    spark.conf.set(CONF_WAREHOUSE, str(tmp_path_factory.mktemp("vector_wh")))
    docs = [f"topic {i % 9} item {i} word{i % 5} extra{i % 3}" for i in range(120)]
    docs[7] = ""  # a zero embedding among the stored rows
    metas = [{"Year": 2000 + (i % 4), "Rating": i % 5} for i in range(120)]
    col = EmbeddingCollection.new(
        spark, docs, metas, None, "vector_kernel", embedder=HashEmbedder(dim=48)
    ).save()
    yield col
    spark.conf.set(CONF_WAREHOUSE, old)


PROBES = ["topic 3 item", "word2 extra1 topic 5", "item 17 word0", "unrelated probe"]
FILTERS = {
    0: None,
    1: [{"Year": {"gte": 2001}}],
    2: [{"Year": {"gte": 2001}}, {"Rating": {"lt": 4}}],
}


# ---- collection queries vs the reference ----------------------------------


@pytest.mark.parametrize("n_filters", [0, 1, 2])
@pytest.mark.parametrize("metric", ["cosine", "dot"])
def test_cosine_query_bit_identical_to_reference(coll, monkeypatch, n_filters, metric):
    fw = FILTERS[n_filters]
    new = [
        _rows(coll.cosine_query(p, num_results=0, f_where=fw, metric=metric), "similarity")
        for p in PROBES
    ]
    # the same public method over the replaced kernel
    monkeypatch.setattr(collection_mod, "cosine_similarity", ref_cosine)
    monkeypatch.setattr(collection_mod, "dot", ref_dot)
    ref = [
        _rows(coll.cosine_query(p, num_results=0, f_where=fw, metric=metric), "similarity")
        for p in PROBES
    ]
    assert new == ref
    assert all(new[:3]), "the on-topic probes must match rows"


def test_nearest_query_df_bit_identical_to_reference(coll, monkeypatch):
    new = [_rows(coll.nearest_query_df(p, k=5), "distance") for p in PROBES]
    monkeypatch.setattr(collection_mod, "l2_distance", ref_l2)
    ref = [_rows(coll.nearest_query_df(p, k=5), "distance") for p in PROBES]
    assert new == ref


@pytest.mark.parametrize("n_filters", [0, 1])
def test_cosine_query_many_bit_identical_to_reference(coll, n_filters):
    fw = FILTERS[n_filters]
    got = [
        (r["qid"], r["id"], _bits(r["similarity"]))
        for r in coll.cosine_query_many(PROBES, num_results=7, f_where=fw).collect()
    ]
    ref = [
        (r["qid"], r["id"], _bits(r["similarity"]))
        for r in ref_query_many(coll, PROBES, 7, fw).collect()
    ]
    assert got == ref
    assert {q for q, _, _ in got} == {0, 1, 2}  # PROBES[3] shares no token


def test_zero_query_vector_returns_no_rows(coll):
    assert not np.any(coll.embedder.embed_texts([""])[0])
    assert coll.cosine_query("", num_results=0).collect() == []
    assert coll.cosine_query_many([""], num_results=5).collect() == []


# ---- the literal and the driver-side norm ---------------------------------


def test_literal_vector_is_one_typed_literal(spark):
    v = [0.25, -1.5, 3.0]
    # Spark 4's classic Column carries a ColumnNode, not a Catalyst
    # expression; the analyzed projection shows what the plan holds
    analyzed = spark.range(1).select(literal_vector(v).alias("v"))._jdf.queryExecution().analyzed()
    expr = analyzed.expressions().apply(0).child()
    assert expr.getClass().getName() == "org.apache.spark.sql.catalyst.expressions.Literal"
    assert expr.dataType().simpleString() == "array<double>"


def test_literal_vector_round_trips_exactly(spark):
    f32 = np.array([0.1, 1 / 3, 3.4028235e38, 1e-45], dtype=np.float32)
    specials = [-0.0, 5e-324, math.inf, -math.inf, 0.1, -2.5]
    for values, expect in (
        (f32, [float(x) for x in f32]),
        (specials, specials),
        (list(f32), [float(x) for x in f32]),
    ):
        got = spark.range(1).select(literal_vector(values).alias("v")).first()["v"]
        assert [_bits(x) for x in got] == [_bits(x) for x in expect]


def test_vector_norm_bit_identical_to_spark_fold(spark):
    rng = np.random.default_rng(7)
    vecs = [
        rng.standard_normal(384).astype(np.float32),
        rng.standard_normal(384) * 1e150,
        rng.standard_normal(384) * 1e-160,
        np.zeros(16),
        np.array([3.0, 4.0]),
        np.array([1e200, 1e200]),  # overflows to inf in both
        np.array([1.0, math.inf]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], "i int, v array<double>"
    )
    spark_norms = {r["i"]: r["n"] for r in df.select("i", l2_norm(F.col("v")).alias("n")).collect()}
    for i, v in enumerate(vecs):
        assert _bits(vector_norm(v)) == _bits(spark_norms[i]), i


def test_cosine_similarity_literal_vs_column_query(spark):
    """The literal form (driver |q|) and the column form (per-row |q|)
    agree exactly, and both equal the reference."""
    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(32).astype(np.float32).tolist()) for i in range(50)]
    rows.append((50, [0.0] * 32))
    df = spark.createDataFrame(rows, "i int, e array<float>")
    q = rng.standard_normal(32).astype(np.float32)
    qcol = df.withColumn("q", F.lit(np.asarray(q, dtype=np.float64)))
    got = qcol.select(
        "i",
        cosine_similarity("e", q).alias("lit"),
        cosine_similarity("e", F.col("q")).alias("col"),
        ref_cosine("e", q).alias("ref"),
    ).orderBy("i").collect()
    for r in got:
        assert _bits(r["lit"]) == _bits(r["col"]) == _bits(r["ref"]), r["i"]
