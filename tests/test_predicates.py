"""WHERE-clause parser → Pred/OrPred trees (delta/predicates.py)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_delta_spark.delta.predicates import parse_where
from duckdb_delta_spark.delta.scan import OrPred, Pred
from duckdb_delta_spark.delta.writer import DeltaWriter


def _shape(p):
    if isinstance(p, OrPred):
        return ("or", [[_shape(q) for q in br] for br in p.branches])
    return (p.column, p.op, p.value)


def test_parse_conjunction_and_literals():
    ps = parse_where(
        "i < 5 AND s = 'it''s' AND x >= 1.5 AND b = TRUE "
        "AND d > DATE '2024-02-29' AND t <= TIMESTAMP '2024-01-01 12:30:00'")
    assert [_shape(p) for p in ps] == [
        ("i", "<", 5),
        ("s", "=", "it's"),
        ("x", ">=", 1.5),
        ("b", "=", True),
        ("d", ">", dt.date(2024, 2, 29)),
        ("t", "<=", dt.datetime(2024, 1, 1, 12, 30)),
    ]


def test_parse_or_between_in_not():
    ps = parse_where("(i < 5 AND g = 1) OR i > 90")
    assert len(ps) == 1 and isinstance(ps[0], OrPred)
    assert _shape(ps[0]) == (
        "or", [[("i", "<", 5), ("g", "=", 1)], [("i", ">", 90)]])

    ps = parse_where("i BETWEEN 3 AND 7")
    assert [_shape(p) for p in ps] == [("i", ">=", 3), ("i", "<=", 7)]

    ps = parse_where("i NOT BETWEEN 3 AND 7")
    assert _shape(ps[0]) == ("or", [[("i", "<", 3)], [("i", ">", 7)]])

    ps = parse_where("g IN (1, 2, 3) AND s NOT IN ('a', 'b')")
    assert _shape(ps[0]) == ("g", "in", [1, 2, 3])
    assert [_shape(p) for p in ps[1:]] == [("s", "!=", "a"), ("s", "!=", "b")]

    ps = parse_where("NOT (i < 5 OR (g = 1 AND i IS NULL))")
    # De Morgan: i >= 5 AND (g != 1 OR i IS NOT NULL)
    assert _shape(ps[0]) == ("i", ">=", 5)
    assert _shape(ps[1]) == (
        "or", [[("g", "!=", 1)], [("i", "is not null", None)]])


def test_parse_dotted_and_backquoted_paths():
    ps = parse_where("info.score > 3 AND `weird col`.`x` = 1")
    assert _shape(ps[0]) == ("info.score", ">", 3)
    assert _shape(ps[1]) == ("weird col.x", "=", 1)


def test_parse_rejects_garbage():
    for bad in ["i <", "i < 5 OR", "func(i) = 3", "i = i2", "5 < i",
                "i LIKE 5", "i < 5 extra", "i BETWEEN 1", ""]:
        with pytest.raises(ValueError):
            parse_where(bad)


def test_parse_rejects_dnf_blowup():
    # top-level AND conjuncts stay separate OrPreds (no cross-product)...
    wide = " AND ".join(
        f"(a{k} = 1 OR b{k} = 2 OR c{k} = 3 OR d{k} = 4)" for k in range(4))
    assert len(parse_where(wide)) == 4
    # ...but the SAME conjunction nested under an OR must cross-multiply
    # to DNF — 4^4 = 256 branches > 64 → refuse rather than mis-prune
    with pytest.raises(ValueError):
        parse_where(f"z = 9 OR ({wide})")


def test_filter_sql_equals_spark_sql(spark, tdir):
    """End-to-end: for a matrix of WHERE clauses, scan().filter_sql(w)
    must return exactly spark.sql's answer on the same data — and the
    disjunctive ones must PRUNE files, not scan everything."""
    from duckdb_delta_spark.delta.table import DeltaTable

    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DateType()),
        T.StructField("g", T.LongType()),
    ])
    w = DeltaWriter.create(spark, tdir, schema, partition_by=["g"])
    df = spark.range(400).select(
        F.col("id").alias("i"),
        F.concat(F.lit("s"), F.format_string("%03d", F.col("id"))).alias("s"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("id") % 300).cast("int")).alias("d"),
        (F.col("id") % 2).alias("g"),
    )
    w.append(df.repartitionByRange(8, "i"))
    t = DeltaTable(tdir)
    full = t.to_df(spark)
    full.createOrReplaceTempView("psql_t")

    clauses = [
        "i < 30 OR i > 370",
        "(i < 30 AND g = 0) OR (i > 370 AND g = 1)",
        "d BETWEEN DATE '2024-02-01' AND DATE '2024-02-10' OR s = 's399'",
        "NOT (i >= 50 AND i <= 350)",
        "g = 1 AND (s IN ('s001', 's003') OR i NOT BETWEEN 2 AND 398)",
        "i IS NOT NULL AND (g = 0 OR s >= 's39')",
    ]
    for clause in clauses:
        sb = t.scan(spark).filter_sql(clause)
        got = sorted(map(tuple, sb.to_df().select("i", "s", "d", "g").collect()))
        want = sorted(map(tuple, spark.sql(
            f"SELECT i, s, d, g FROM psql_t WHERE {clause}").collect()))
        assert got == want, clause
        rep = sb.skip_report()
        assert rep["files_scanned"] + rep["files_skipped_by_stats"] + \
            rep["files_skipped_by_partition"] == rep["files_total"]
    # the motivating OR clause prunes the middle range files
    sb = t.scan(spark).filter_sql("i < 30 OR i > 370")
    sb.to_df().collect()
    assert sb.skip_report()["files_skipped_by_stats"] >= 8, sb.skip_report()


def test_parse_like_prefix_rewrite():
    # no wildcards → equality
    assert _shape(parse_where("s LIKE 'abc'")[0]) == ("s", "=", "abc")
    # trailing % → like + derived [prefix, prefix+1) range companions
    ps = parse_where("s LIKE 'abc%'")
    assert [_shape(p) for p in ps] == [
        ("s", "like", "abc%"), ("s", ">=", "abc"), ("s", "<", "abd")]
    # embedded wildcards still derive the literal prefix
    ps = parse_where("s LIKE 'ab_c%d'")
    assert [_shape(p) for p in ps] == [
        ("s", "like", "ab_c%d"), ("s", ">=", "ab"), ("s", "<", "ac")]
    # leading wildcard → row-level only
    assert [_shape(p) for p in parse_where("s LIKE '%abc'")] == [
        ("s", "like", "%abc")]
    # escapes → row-level only (prefix would mis-prune)
    assert [_shape(p) for p in parse_where(r"s LIKE 'ab\%c%'")] == [
        ("s", "like", r"ab\%c%")]
    # NOT LIKE: De Morgan over (like AND companions) = exact complement
    ps = parse_where("s NOT LIKE 'abc%'")
    assert _shape(ps[0]) == ("or", [
        [("s", "not like", "abc%")], [("s", "<", "abc")], [("s", ">=", "abd")]])


def test_like_prefix_prunes_and_matches_spark(spark, tdir):
    """End-to-end LIKE: results equal spark.sql, and a prefix pattern
    PRUNES files via its derived range on a string-range-laid-out
    table."""
    from duckdb_delta_spark.delta.table import DeltaTable

    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("i", T.LongType()),
    ])
    w = DeltaWriter.create(spark, tdir, schema)
    df = spark.range(1000).select(
        F.format_string("k%03d", F.col("id")).alias("s"),
        F.col("id").alias("i"))
    w.append(df.repartitionByRange(10, "s"))
    t = DeltaTable(tdir)
    full = t.to_df(spark)
    full.createOrReplaceTempView("plike_t")

    for clause in ["s LIKE 'k00%'", "s LIKE 'k99_'", "s NOT LIKE 'k0%'",
                   "s LIKE 'k01%' OR s LIKE 'k98%'"]:
        sb = t.scan(spark).filter_sql(clause)
        got = sorted(r["i"] for r in sb.to_df().collect())
        want = sorted(r["i"] for r in spark.sql(
            f"SELECT i FROM plike_t WHERE {clause}").collect())
        assert got == want, clause

    sb = t.scan(spark).filter_sql("s LIKE 'k00%'")
    sb.to_df().collect()
    assert sb.skip_report()["files_skipped_by_stats"] >= 8, sb.skip_report()
    # OR of two prefixes prunes the middle too
    sb = t.scan(spark).filter_sql("s LIKE 'k01%' OR s LIKE 'k98%'")
    sb.to_df().collect()
    assert sb.skip_report()["files_skipped_by_stats"] >= 7, sb.skip_report()


def test_parse_distinct_from():
    # IS NOT DISTINCT FROM a non-null literal ≡ plain equality
    assert _shape(parse_where("i IS NOT DISTINCT FROM 5")[0]) == ("i", "=", 5)
    # IS DISTINCT FROM ≡ != OR IS NULL (null-safe inequality)
    ps = parse_where("i IS DISTINCT FROM 5")
    assert _shape(ps[0]) == (
        "or", [[("i", "!=", 5)], [("i", "is null", None)]])
    # negation round-trips through De Morgan
    ps = parse_where("NOT (i IS DISTINCT FROM 5)")
    assert _shape(ps[0]) == ("i", "=", 5)


def test_distinct_from_matches_spark(spark, tdir):
    from duckdb_delta_spark.delta.table import DeltaTable

    schema = T.StructType([T.StructField("i", T.LongType()),
                           T.StructField("j", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema)
    rows = [(k if k % 3 else None, k) for k in range(30)]
    w.append(spark.createDataFrame(rows, schema))
    t = DeltaTable(tdir)
    t.to_df(spark).createOrReplaceTempView("pdist_t")
    for clause in ["i IS DISTINCT FROM 4", "i IS NOT DISTINCT FROM 4",
                   "i IS DISTINCT FROM 4 AND j < 20"]:
        got = sorted(r["j"] for r in t.to_df(spark, where=clause).collect())
        want = sorted(r["j"] for r in spark.sql(
            f"SELECT j FROM pdist_t WHERE {clause}").collect())
        assert got == want, clause


def test_like_on_partition_column_prunes_exactly(spark, tdir):
    """A partition value is the exact column value for every row in its
    file, so LIKE/NOT LIKE evaluate precisely there — files prune by
    pattern match (including NULL partitions, where no row can match
    either polarity), and results equal spark.sql."""
    from duckdb_delta_spark.delta.table import DeltaTable

    schema = T.StructType([T.StructField("src", T.StringType()),
                           T.StructField("i", T.LongType())])
    w = DeltaWriter.create(spark, tdir, schema, partition_by=["src"])
    rows = [(f"crawl-{k % 3}" if k % 5 else ("web" if k % 2 else None), k)
            for k in range(60)]
    w.append(spark.createDataFrame(rows, schema))
    t = DeltaTable(tdir)
    t.to_df(spark).createOrReplaceTempView("plpart_t")

    for clause, min_skip in [("src LIKE 'crawl-%'", 2),
                             ("src NOT LIKE 'crawl-%'", 4),
                             ("src LIKE '%eb'", 4),
                             ("src LIKE 'crawl-_' OR src = 'web'", 1)]:
        sb = t.scan(spark).filter_sql(clause)
        got = sorted(r["i"] for r in sb.to_df().collect())
        want = sorted(r["i"] for r in spark.sql(
            f"SELECT i FROM plpart_t WHERE {clause}").collect())
        assert got == want, clause
        rep = sb.skip_report()
        assert rep["files_skipped_by_partition"] >= min_skip, (clause, rep)


def test_filter_sql_fuzz_tree_equivalence(spark, tdir):
    """Generative round-trip: random boolean trees (depth <= 3; every
    grammar op: comparisons, IN, BETWEEN, LIKE, IS [NOT] NULL,
    IS [NOT] DISTINCT FROM, NOT) render to SQL, run through
    scan().filter_sql AND spark.sql on the same Delta table, and must
    agree exactly — plus the skip-report soundness identity."""
    from hypothesis import example, given, settings, strategies as st

    from duckdb_delta_spark.delta.table import DeltaTable

    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("g", T.LongType()),
    ])
    w = DeltaWriter.create(spark, tdir, schema, partition_by=["g"])
    rows = [(k if k % 7 else None,
             f"w{k % 13:02d}x" if k % 5 else None,
             k % 3) for k in range(60)]
    w.append(spark.createDataFrame(rows, schema).repartition(6))
    t = DeltaTable(tdir)
    t.to_df(spark).createOrReplaceTempView("pfz_t")

    ints = st.integers(min_value=-2, max_value=62)
    strs = st.sampled_from(["w01x", "w05x", "w12x", "zzz", "w0"])

    def lit(v):
        return f"'{v}'" if isinstance(v, str) else str(v)

    leaf = st.one_of(
        st.tuples(st.sampled_from(["i", "g"]),
                  st.sampled_from(["<", "<=", ">", ">=", "=", "!="]), ints
                  ).map(lambda t3: f"{t3[0]} {t3[1]} {t3[2]}"),
        st.tuples(st.sampled_from(["s"]),
                  st.sampled_from(["<", ">=", "=", "!="]), strs
                  ).map(lambda t3: f"{t3[0]} {t3[1]} {lit(t3[2])}"),
        st.tuples(st.sampled_from(["i", "s", "g"]),
                  st.sampled_from(["IS NULL", "IS NOT NULL"])
                  ).map(lambda t2: f"{t2[0]} {t2[1]}"),
        st.tuples(st.lists(ints, min_size=1, max_size=3),
                  st.sampled_from(["IN", "NOT IN"])
                  ).map(lambda t2:
                        f"i {t2[1]} ({', '.join(map(str, t2[0]))})"),
        st.tuples(ints, ints).map(
            lambda t2: f"i BETWEEN {min(t2)} AND {max(t2)}"),
        st.sampled_from(["s LIKE 'w0%'", "s LIKE '%2x'", "s LIKE 'w_1%'",
                         "s NOT LIKE 'w1%'", "s LIKE 'w05x'"]),
        st.tuples(st.one_of(ints, st.just("NULL")),
                  st.sampled_from(["DISTINCT FROM",
                                   "NOT DISTINCT FROM"])
                  ).map(lambda t2: f"i IS {t2[1]} {t2[0]}"),
    )

    def tree(depth):
        if depth == 0:
            return leaf
        sub = tree(depth - 1)
        return st.one_of(
            leaf,
            st.tuples(sub, st.sampled_from(["AND", "OR"]), sub).map(
                lambda t3: f"({t3[0]} {t3[1]} {t3[2]})"),
            sub.map(lambda c: f"NOT ({c})"),
        )

    # derandomize: gate runs draw the SAME example set every time (the
    # r13 null-safe-negation bug slipped through because random draws
    # missed it); found falsifying examples are pinned below so the
    # regression check is deterministic regardless of the draw.
    @settings(max_examples=30, deadline=None, derandomize=True)
    @example("NOT (i IS NOT DISTINCT FROM 0)")
    @example("NOT (i IS DISTINCT FROM 7)")
    @example("NOT (NOT (i IS NOT DISTINCT FROM 0))")
    @example("NOT (s IS NOT DISTINCT FROM 'w05x')")
    @given(tree(3))
    def check(clause):
        sb = t.scan(spark).filter_sql(clause)
        got = sorted(repr(tuple(r))
                     for r in sb.to_df().select("i", "s", "g").collect())
        want = sorted(repr(tuple(r)) for r in spark.sql(
            f"SELECT i, s, g FROM pfz_t WHERE {clause}").collect())
        assert got == want, clause
        rep = sb.skip_report()
        assert rep["files_scanned"] + rep["files_skipped_by_stats"] + \
            rep["files_skipped_by_partition"] == rep["files_total"]

    check()


def test_sql_rendering_matches_column_api(spark):
    """Pushed predicates render to one SQL string only where it parses to
    the same typed literals as the Column API: INT vs BIGINT by range,
    exact doubles, doubled quotes, dates. Backslashes, timestamps and
    decimals do not render (the scan falls back to the Column API)."""
    from decimal import Decimal

    from duckdb_delta_spark.operators.exprlit import sql_literal

    values = [0, -7, 2**31 - 1, -(2**31) + 1, 2**31, -(2**31) - 1,
              2**63 - 1, True, False, 1.5, -0.1, 1e300, float("inf"),
              float("nan"), "it's", "", "ünï", dt.date(2024, 2, 29)]
    row = spark.range(1).select(
        *[F.lit(v).alias(f"a{i}") for i, v in enumerate(values)],
        *[F.expr(sql_literal(v)).alias(f"b{i}")
          for i, v in enumerate(values)]).collect()[0]
    schema = spark.range(1).select(
        *[F.lit(v).alias(f"a{i}") for i, v in enumerate(values)],
        *[F.expr(sql_literal(v)).alias(f"b{i}")
          for i, v in enumerate(values)]).schema
    for i, v in enumerate(values):
        assert schema[f"a{i}"].dataType == schema[f"b{i}"].dataType, v
        a, b = row[f"a{i}"], row[f"b{i}"]
        assert a == b or (a != a and b != b), v  # NaN == NaN
    for v in ("a\\b", dt.datetime(2024, 1, 1), Decimal("1.5"),
              -(2**31), 2**63, dt.date(1582, 10, 4), None):
        assert sql_literal(v) is None, v

    assert Pred("x.y", "in", [1, "a"]).to_sql() == "`x`.`y` IN (1, 'a')"
    assert Pred("s", "not like", "a%").to_sql() == "NOT (`s` LIKE 'a%')"
    assert Pred("s", "like", "a\\%").to_sql() is None
    assert Pred("bad name", "=", 1).to_sql() is None
    assert Pred("i", "in", []).to_sql() is None
    assert OrPred([[("i", "<", 1)], [("i", ">", 9), ("s", "=", "q")]]) \
        .to_sql() == "((`i` < 1)) OR ((`i` > 9) AND (`s` = 'q'))"
    assert OrPred([[("i", "<", 1)], [("t", "<", Decimal(1))]]).to_sql() is None
