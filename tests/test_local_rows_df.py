"""local_rows_df (optimization r13): small driver-side row lists become
LocalRelations (SQL VALUES), not 32-python-task pickled RDDs, with values
and types identical to what createDataFrame would have produced."""

from __future__ import annotations

from url_counter_mapreduce_spark.tables import LOCAL_ROWS_MAX, local_rows_df


def _rows_set(df):
    return {tuple(r) for r in df.collect()}


def _names_types(df):
    # nullability deliberately excluded: VALUES marks NULL-free columns
    # non-nullable (tighter than createDataFrame's all-nullable), which
    # only gives the optimizer MORE information — values are what matter
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_matches_createdataframe_values_and_schema(spark):
    rows = [
        (1, "plain", True, 1.5, None),
        (-7, "quo'te and back\\slash", False, -0.25, "x"),
        (0, "", True, 0.0, None),
    ]
    schema = "a long, b string, c boolean, d double, e string"
    got = local_rows_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _names_types(got) == _names_types(want)
    assert _rows_set(got) == _rows_set(want)


def test_is_local_relation_no_scan(spark):
    df = local_rows_df(spark, [(1, "a"), (2, "b")], "k int, v string")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan


def test_name_list_schema_inference(spark):
    rows = [("s1", 3, 10), ("s2", 0, None)]
    got = local_rows_df(spark, rows, ["source", "bucket", "offset"])
    want = spark.createDataFrame(rows, ["source", "bucket", "offset"])
    assert _names_types(got) == _names_types(want)
    assert _rows_set(got) == _rows_set(want)


def test_empty_and_oversize_fall_back(spark):
    empty = local_rows_df(spark, [], "a long")
    assert empty.count() == 0
    big = [(i,) for i in range(LOCAL_ROWS_MAX + 1)]
    df = local_rows_df(spark, big, "a long")
    assert df.count() == LOCAL_ROWS_MAX + 1


def test_nonfinite_floats_fall_back_not_raise(spark):
    # repr(inf)+'D' renders 'infD' — a parse error in the VALUES path
    # (ADVICE r13); these must route to createDataFrame and round-trip
    import math

    rows = [(1, float("nan")), (2, float("inf")), (3, float("-inf")), (4, 1.5)]
    got = local_rows_df(spark, rows, "k long, v double")
    want = spark.createDataFrame(rows, "k long, v double")
    gm = {r.k: r.v for r in got.collect()}
    wm = {r.k: r.v for r in want.collect()}
    assert math.isnan(gm[1]) and math.isnan(wm[1])
    assert gm[2] == wm[2] == float("inf")
    assert gm[3] == wm[3] == float("-inf")
    assert gm[4] == wm[4] == 1.5


def test_mixed_int_float_column_matches_createdataframe_error(spark):
    # first-value-only inference silently CAST 2.5 to long (ADVICE r13).
    # PySpark's createDataFrame REFUSES int+float merges under a names-only
    # schema (CANNOT_MERGE_TYPE), so the contract-identical behavior is to
    # fall back and surface that same error — never a silent truncation.
    import pytest
    from pyspark.errors.exceptions.base import PySparkTypeError

    rows = [(1, 2), (2, 2.5)]
    with pytest.raises(PySparkTypeError):
        spark.createDataFrame(rows, ["k", "v"])
    with pytest.raises(PySparkTypeError):
        local_rows_df(spark, rows, ["k", "v"])


def test_complex_type_schema_survives(spark):
    # 'map<string,int>' used to split mid-type and raise at unpack
    rows = [({"a": 1}, [1, 2])]
    schema = "m map<string,int>, xs array<int>"
    got = local_rows_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _names_types(got) == _names_types(want)
    assert got.collect() == want.collect()


def test_reserved_or_spaced_column_names(spark):
    rows = [(1, 2)]
    got = local_rows_df(spark, rows, "`offset` long, `two words` long")
    assert got.columns == ["offset", "two words"]
    assert got.collect()[0][0] == 1


def test_name_list_with_spaced_and_quoted_names(spark):
    rows = [(1, "a", 2.5), (2, None, 0.5)]
    names = ["two words", "sel`ect", "offset"]
    got = local_rows_df(spark, rows, names)
    want = spark.createDataFrame(rows, names)
    assert "LocalRelation" in got._jdf.queryExecution().optimizedPlan().toString()
    assert _names_types(got) == _names_types(want)
    assert _rows_set(got) == _rows_set(want)


def test_escaped_string_literals_session_falls_back(spark):
    old = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        rows = [(1, r"back\slash 'quote'")]
        got = local_rows_df(spark, rows, "k long, v string")
        assert got.collect()[0].v == r"back\slash 'quote'"
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", old)


def test_property_mixed_rows_match_createdataframe(spark):
    # VERDICT r13 item 7: property over mixed int/str/bool/float/None rows
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    scalar = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=20),
    )

    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.data())
    def run(data):
        ncols = data.draw(st.integers(min_value=1, max_value=4))
        # per-column draw keeps types homogeneous-or-NULL per column the
        # way real callers build tables; mixed columns are exercised by
        # the dedicated tests above (they fall back by contract)
        coltypes = [
            data.draw(
                st.sampled_from(["bool", "int", "float", "str"])
            )
            for _ in range(ncols)
        ]
        bycol = {
            "bool": st.one_of(st.none(), st.booleans()),
            "int": st.one_of(
                st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)
            ),
            "float": st.one_of(
                st.none(),
                st.floats(allow_nan=False, allow_infinity=False, width=64),
            ),
            "str": st.one_of(st.none(), st.text(max_size=20)),
        }
        nrows = data.draw(st.integers(min_value=1, max_value=5))
        rows = [
            tuple(data.draw(bycol[t]) for t in coltypes) for _ in range(nrows)
        ]
        names = [f"c{i}" for i in range(ncols)]
        try:
            want = spark.createDataFrame(rows, names)
        except Exception:
            return  # all-NULL column etc.: nothing to compare against
        got = local_rows_df(spark, rows, names)
        assert _names_types(got) == _names_types(want)
        assert _rows_set(got) == _rows_set(want)

    run()
