"""lint_plan / assert_scalable checks against crafted plans."""

import pytest
from pyspark.sql import functions as F

from aroa_etl_spark.plans.lint import PlanLintError, assert_scalable, lint_plan


def _codes(findings, severity=None):
    return {f.code for f in findings if severity is None or f.severity == severity}


def test_clean_aggregate_passes(spark):
    df = spark.range(100).groupBy((F.col("id") % 5).alias("g")).count()
    findings = assert_scalable(df)
    assert _codes(findings, "error") == set()
    assert "exchanges" in _codes(findings)


def test_cartesian_flagged(spark):
    a, b = spark.range(10), spark.range(10).withColumnRenamed("id", "id2")
    df = a.crossJoin(b)
    codes = _codes(lint_plan(df), "error")
    assert codes & {"cartesian", "bnlj"}
    with pytest.raises(PlanLintError):
        assert_scalable(df)


def test_bnlj_sanctioned_when_allowed(spark):
    one_row = spark.range(100).agg(F.count("*").alias("n"))
    df = spark.range(10).crossJoin(F.broadcast(one_row))
    assert "bnlj" in _codes(lint_plan(df), "error")
    findings = assert_scalable(df, allow_bnlj=True)  # no raise
    assert "bnlj" in _codes(findings, "info")


def test_python_udf_flagged(spark):
    @F.udf("long")
    def slow(x):
        return x + 1

    df = spark.range(10).select(slow("id").alias("y"))
    assert "python_udf" in _codes(lint_plan(df), "error")


def test_pandas_udf_not_flagged(spark):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def fast(x: pd.Series) -> pd.Series:
        return x + 1

    df = spark.range(10).select(fast("id").alias("y"))
    assert "python_udf" not in _codes(lint_plan(df))


def test_global_sort_warned_but_topk_not(spark):
    full = spark.range(100).orderBy("id")
    assert "global_sort" in _codes(lint_plan(full), "warning")
    topk = spark.range(100).orderBy("id").limit(5)
    assert "global_sort" not in _codes(lint_plan(topk))


def test_catalog_flagships_are_clean(spark, sf_dir):
    from aroa_etl_spark.plans import catalog

    for name in ("q1_pricing_summary", "j5_multiway_revenue_by_nation"):
        assert_scalable(catalog.spec(name).builder(spark, sf_dir))


def test_ntile_entry_has_no_global_sort(spark, sf_dir):
    """Round 7 retired w_ntile_price_bands' perf-weak flag: exact ntile
    via percentile-banded rank (operators/stats.exact_global_rank) —
    the plan must carry NO unpartitioned data window / global sort."""
    from aroa_etl_spark.plans import catalog
    from aroa_etl_spark.plans.lint import lint_plan

    df = catalog.spec("w_ntile_price_bands").builder(spark, sf_dir)
    assert "global_sort" not in _codes(lint_plan(df), "warning")
    plan = df._jdf.queryExecution().sparkPlan().toString()
    # the only unpartitioned window is the offsets cumsum over the
    # 32-row band-size dim (windowspec over __band ordering, fed by an
    # aggregate); every data-sized window is partitioned by __band
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    data_windows = [s for s in specs if "o_totalprice" in s]
    assert data_windows and all(s.startswith("__band") for s in data_windows)


def test_exact_global_rank_is_exact(spark):
    from pyspark.sql import functions as F

    from aroa_etl_spark.operators.stats import exact_global_rank

    df = spark.range(0, 2000).selectExpr(
        "id", "cast((id * 37) % 101 as double) as v"  # heavy ties
    )
    out = exact_global_rank(df, "v", "id", n_bands=8)
    rows = out.orderBy("v", "id").collect()
    assert [r.global_rank for r in rows] == list(range(1, 2001))


def test_exact_global_rank_empty_and_allnull(spark):
    """Review fix: empty input / all-null value column short-circuits
    (percentile returns NULL) instead of TypeError at build time."""
    from aroa_etl_spark.operators.stats import exact_global_rank

    empty = spark.createDataFrame([], "id bigint, v double")
    assert exact_global_rank(empty, "v", "id").count() == 0
    nulls = spark.createDataFrame([(1, None), (2, None)], "id bigint, v double")
    out = exact_global_rank(nulls, "v", "id").orderBy("id").collect()
    assert [r.global_rank for r in out] == [1, 2]  # single band, id tiebreak


def test_exact_grouped_rank_is_exact_heavy_ties(spark):
    """Grouped generalization (r7 verdict ask #4): per-group rank under
    heavy ties must equal the plain grouped window, both directions."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from aroa_etl_spark.operators.stats import exact_grouped_rank

    df = spark.range(0, 2000).selectExpr(
        "id", "cast(id % 5 as int) as g",
        "cast((id * 37) % 101 as double) as v",  # heavy ties
    )
    for descending in (False, True):
        out = exact_grouped_rank(
            df, "g", "v", "id", rank_col="rk", n_bands=8, descending=descending
        )
        order = [F.col("g"), F.desc("v") if descending else F.col("v"), F.col("id")]
        per_g = defaultdict(list)
        for r in out.orderBy(*order).collect():
            per_g[r.g].append(r.rk)
        assert all(v == list(range(1, len(v) + 1)) for v in per_g.values())


def test_rank_movers_has_no_month_wide_window(spark, sf_dir):
    """r7 verdict ask #4 'done' condition: w_rank_movers' plan carries
    no month-partition window over the raw rollup — every window over
    the revenue column is (month, band)-partitioned; month-only
    partitions are allowed only for the band-size offsets dim and the
    per-customer lag."""
    import re

    from aroa_etl_spark.plans import catalog

    df = catalog.spec("w_rank_movers").builder(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    # windows that see the revenue column must be band-partitioned
    rev_windows = [s for s in specs if "__skey" in s or re.search(r"\br#", s)]
    assert rev_windows, "expected banded rank windows in the plan"
    assert all("__band" in s for s in rev_windows), rev_windows


def test_exact_grouped_rank_descending_non_numeric(spark):
    """descending must NOT negate the value column (fails under ANSI /
    silently casts otherwise): strings and timestamps rank correctly
    in both directions via ordering, matching the per-group window."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from aroa_etl_spark.operators.stats import exact_grouped_rank

    words = ["pear", "apple", "fig", "date", "plum", "kiwi", "apple", "fig"]
    df = spark.createDataFrame(
        [(i, i % 2, words[i % len(words)]) for i in range(64)],
        "id bigint, g int, w string",
    ).withColumn(
        "ts",
        F.to_timestamp(
            F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 7).cast("int"))
        ),
    )
    for col in ("w", "ts"):
        for descending in (False, True):
            out = exact_grouped_rank(
                df, "g", col, "id", rank_col="rk", n_bands=4,
                descending=descending,
            )
            order = [
                F.col("g"),
                F.desc(col) if descending else F.col(col),
                F.col("id"),
            ]
            per_g = defaultdict(list)
            for r in out.orderBy(*order).collect():
                per_g[r.g].append(r.rk)
            assert all(
                v == list(range(1, len(v) + 1)) for v in per_g.values()
            ), (col, descending)


def test_repeated_python_flagged(spark):
    """A filter on a deterministic pandas UDF's result is pushed below the
    projection that computes it, so the UDF runs in two ArrowEvalPython
    nodes; a frame with a mapInPandas output consumed twice runs it twice."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus(x: pd.Series) -> pd.Series:
        return x + 1

    twice = spark.range(10).withColumn("y", plus("id")).filter(F.col("y") > 3)
    found = [f for f in lint_plan(twice) if f.code == "repeated_python"]
    assert found and found[0].severity == "warning" and "plus#" in found[0].message

    once = spark.range(10).withColumn("y", plus.asNondeterministic()("id")).filter(
        F.col("y") > 3
    )
    assert "repeated_python" not in _codes(lint_plan(once))

    def ident(batches):
        yield from batches

    mapped = spark.range(10).mapInPandas(ident, "id long")
    self_join = mapped.join(mapped.withColumnRenamed("id", "id2"), F.col("id") == F.col("id2"))
    assert "repeated_python" in _codes(lint_plan(self_join), "warning")
    assert "repeated_python" not in _codes(lint_plan(mapped))


def test_repeated_python_absent_on_consensus_and_person_er(spark):
    """The consensus kernel and the person-scoring UDF each run once per
    plan: ENCDeduplicater.run, person_matching (both duplicate modes) and
    similarity_edges."""
    from aroa_etl_spark.operators.clustering import similarity_edges
    from aroa_etl_spark.operators.consensus import ENCDeduplicater
    from aroa_etl_spark.operators.matching import person_matching

    enc = spark.createDataFrame(
        [("d1", "w", "Anna", "true", "1930"), ("d1", "w", "Anna", "false", "1930"),
         ("d2", "w", "Bob", "false", "-"), ("d2", "w", "Rob", "false", "1931")],
        "document_id string, workflow_id string, name string, name_qa string, "
        "birth_year string",
    )
    dedup = (
        ENCDeduplicater(enc, "document_id", metadata_columns=["workflow_id"])
        .on_person_cols(["name"])
        .on_date_cols(["birth_year"])
        .define_qa_pairs({"birth_year": "name_qa"})
        .run()
    )
    people = spark.createDataFrame(
        [(1, "anna", "schmidt", "19300201", "", "berlin"),
         (2, "anna", "schmitt", "19300201", "", "berlin"),
         (3, "hans", "wagner", "19251130", "555", "hamburg")],
        "person_id long, strGName_processed string, strLName_processed string, "
        "strDoB_processed string, prisoner_number string, strPoB_processed string",
    )
    src = people.withColumnRenamed("person_id", "srcID")
    trg = people.withColumnRenamed("person_id", "trgID")
    plans = {
        "consensus": dedup,
        "matching": person_matching(src, trg, top_n_matches=2, min_match_score=80.0),
        "matching_unique": person_matching(
            src, trg, top_n_matches=2, min_match_score=80.0, allow_duplicates=False
        ),
        "similarity_edges": similarity_edges(people, cutoff=85.0),
    }
    for name, df in plans.items():
        assert "repeated_python" not in _codes(lint_plan(df)), name
    assert dedup.count() == 6  # 4 raw rows + 2 consensus rows
